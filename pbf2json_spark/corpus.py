"""Corpus-level text aggregations: heavy-hitter n-grams and an inverted
index. These are the whole-corpus statistics a training-data pipeline runs
besides per-document scoring (vocabulary building, boilerplate phrase
discovery, contamination lookups).

Shapes at 10^12 documents:
  * top_ngrams — explode → ONE map-side-combinable groupBy keyed by the
    gram (the exchange carries (gram, partial_count), bounded by distinct
    grams per task, not token volume) → global top-k. The final ordering
    sorts only the distinct-gram table, and the TakeOrderedAndProject
    physical operator keeps k rows per partition before the single-partition
    merge — no full global sort materializes.
  * inverted_index — explode → distinct (token, doc) pairs → per-token
    sorted posting list. Postings for stop-words are unbounded; `min_df`/
    `max_df` bounds exist precisely to drop the degenerate head (the same
    reason the jaccard prefix filter drops hot shingles, dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BM25_K1, BM25_B = 1.2, 0.75  # Okapi BM25 term-frequency saturation and length norm


def _words(text_col: str) -> Column:
    t = F.col(text_col)
    return F.when(
        F.length(F.trim(t)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(t), r"\s+"))


def ngrams_col(words: Column, n: int) -> Column:
    """Sliding n-grams (space-joined) of a words array, pure Column."""
    if n == 1:
        return words
    # docs shorter than n words yield an empty gram array (slice length
    # must be >= 0, so clamp)
    length = F.greatest(F.size(words) - (n - 1), F.lit(0))
    parts = [F.slice(words, i + 1, length) for i in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def top_ngrams(df: DataFrame, n: int = 2, k: int = 100) -> DataFrame:
    """Corpus-wide top-k n-grams by occurrence count; ties broken by the
    gram itself (deterministic on any partitioning).

    Output: (gram, occurrences), exactly k rows (fewer if the corpus has
    fewer distinct grams)."""
    grams = df.select(F.explode(ngrams_col(_words("text"), n)).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("occurrences"))
    return counts.orderBy(F.col("occurrences").desc(), F.col("gram").asc()).limit(k)


def inverted_index(
    df: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    n: int = 1,
) -> DataFrame:
    """token → (document frequency, comma-joined sorted posting list).

    Postings are distinct doc ids in ascending order, serialized to a
    string so the result is engine-portable (array columns compare
    differently across drivers; a canonical string is bit-stable).
    `min_df`/`max_df` bound the vocabulary: max_df drops stop-word tokens
    whose posting lists would otherwise be corpus-sized.
    """
    pairs = (
        df.select(
            F.col("doc_id"),
            F.explode(ngrams_col(_words("text"), n)).alias("token"),
        )
        .distinct()
    )
    # Two passes when a bound is set: count document frequency FIRST (a
    # cheap long per token), drop out-of-bound tokens, and only then build
    # posting arrays. Filtering after collect_list would materialize a
    # corpus-sized array for every stop word inside one aggregation buffer
    # before discarding it — an executor OOM at 10^12 documents, which is
    # exactly the degenerate head max_df exists to avoid.
    if min_df > 1 or max_df is not None:
        dfreq = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df_count"))
        keep = dfreq.filter(F.col("df_count") >= min_df)
        if max_df is not None:
            keep = keep.filter(F.col("df_count") <= max_df)
        pairs = pairs.join(keep.select("token"), "token", "left_semi")
    return pairs.groupBy("token").agg(
        F.count(F.lit(1)).alias("df_count"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.col("doc_id"))),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


def bm25_rank(df: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """BM25 relevance ranking with a RATIONAL idf (no logarithm):
    idf(t) = (N - df_t + 0.5) / (df_t + 0.5) — the odds inside the
    classic Robertson idf, left un-logged. The ranking it induces per
    term is order-isomorphic to the log form, and the arithmetic is
    pure +,*,/ — every step IEEE exact-rounded, so the score is
    bit-identical across engines (a transcendental log is NOT: libm vs
    java.lang.Math may differ in the last ulp, which a value-exact
    oracle would flag as a miss).

    Determinism: the score is a FIXED expression tree — per-term scores
    added left-to-right in sorted(set(terms)) order — never a float SUM
    aggregate (whose partial-aggregation order varies run to run).

    Shape at 10^12 docs: ONE corpus scan collapses to a single stats row
    (N, total token length, per-term document frequencies — all longs,
    map-side combinable), broadcast back via a 1-row cross join; the
    second scan computes tf/dl/score entirely in whole-stage codegen
    (size(filter(words, =t)) per term — no explode, no token shuffle);
    TakeOrderedAndProject keeps k rows per partition before the single
    merge. Zero data-sized shuffles end to end.

    Output: (doc_id, score, dl) for the top-k docs matching ≥1 term,
    ties broken by doc_id ascending.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    qs = sorted(set(terms))
    if any(not t or " " in t for t in qs):
        raise ValueError("terms must be non-empty single tokens")
    words = _words("text")

    def _tf(term: str) -> Column:
        # NB: the lambda must be unary — F.filter treats a 2-arg lambda as
        # (element, index), so a `t=t` default-capture would bind the term
        # to the index column
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    scored = df.select(
        F.col("doc_id"),
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(qs)],
    )
    stats = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(qs))
        ],
    )
    j = scored.crossJoin(F.broadcast(stats))
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    score = None
    for i in range(len(qs)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = (F.col("n_docs").cast("double") - dfreq + F.lit(0.5)) / (
            dfreq + F.lit(0.5)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0)
            - F.lit(BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
        )
        s = idf * (tf * F.lit(BM25_K1 + 1.0) / denom)
        score = s if score is None else score + s
    matched = None
    for i in range(len(qs)):
        c = F.col(f"tf_{i}") > 0
        matched = c if matched is None else matched | c
    return (
        j.withColumn("score", score)
        .filter(matched)
        .select("doc_id", "score", "dl")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_all_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    """Conjunctive keyword search: documents containing ALL `terms` as
    whitespace tokens (repeated query terms collapse).

    Shape: a conjunction of array_contains predicates over the tokenized
    text — ONE scan-stage filter in whole-stage codegen, ZERO shuffles.
    (The explode → distinct → groupBy formulation computes the same set
    but pays two shuffles; the oracle uses that formulation precisely
    because it is an independent derivation.)"""
    if not terms:
        raise ValueError("terms must be non-empty")
    words = _words("text")
    cond = None
    for t in sorted(set(terms)):
        c = F.array_contains(words, t)
        cond = c if cond is None else cond & c
    return df.filter(cond).select("doc_id")


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Per-document top-k keywords by tf-idf — the unsupervised keyword /
    topic-tag extractor of a training-data pipeline (metadata enrichment,
    domain mixing features, index terms).

    Scoring uses a RATIONAL idf (the same discipline as bm25_rank):
    idf(t) = (N - df_t + 0.5) / (df_t + 0.5), un-logged — order-isomorphic
    to the log form per term, and pure +,*,/ on doubles, so score values
    are bit-identical across engines (a libm/JVM log would differ in the
    last ulp). score = tf · idf; ties break (score DESC, term ASC).

    Stop-word control: terms with df > max_df_frac·N or df < min_df are
    dropped BEFORE the per-doc ranking — the same degenerate-head bound as
    inverted_index's max_df (a stop word has idf ≈ (0.5/(N+0.5)) but would
    still occupy (doc, term) rows for every document it appears in).

    Shape at 10^12 docs:
      * tf: explode → ONE map-side-combinable groupBy on (doc, term) —
        the exchange carries (doc, term, partial_count), bounded by
        distinct terms per task, not token volume.
      * df: a SECOND combinable groupBy over the (doc, term) table (which
        is already distinct), keyed by term — vocabulary-sized output.
      * scoring join on term: vocabulary-sized build side (post df-bounds
        it is the non-stop-word vocabulary; Spark/AQE broadcasts it when
        small, shuffle-hash otherwise).
      * top-k per doc: window row_number over (doc) — the per-doc group is
        bounded by the distinct terms of one document, so no skew blowup;
        exact, no pre-thin needed.

    Output: (doc_id, term, tf:long, score:double, rnk:long), rnk <= k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id"),
        F.explode(_words("text")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            (F.col("df") >= F.lit(min_df))
            & (
                F.col("df").cast("double")
                <= F.lit(float(max_df_frac)) * F.col("n_docs").cast("double")
            )
        )
    )
    idf = (
        (
            F.col("n_docs").cast("double")
            - F.col("df").cast("double")
            + F.lit(0.5)
        )
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        (F.col("tf").cast("double") * idf).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn(
            "rnk", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "score", "rnk")
    )


def token_lift(
    df: DataFrame,
    min_pair_count: int = 2,
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Token co-occurrence association ("lift") — which word pairs appear
    in the same document far more often than independence predicts. The
    collocation/phrase-mining primitive of a corpus pipeline (multi-word
    expression discovery, topic seeds, query suggestion).

    lift(a,b) = P(a,b) / (P(a)·P(b)) over document presence. To keep the
    score engine-portable it is emitted INTEGER-scaled, computed with one
    multiply and one truncating div:
        lift_e6 = (pair_count · N · 1e6) div (df_a · df_b)
    (order-isomorphic to PMI = log lift per pair; no log, no float).
    Overflow budget: pair_count·N·1e6 needs pair_count·N < 9.2e12 — fine
    to ~3M docs; past that pre-scale 1e6 down (the div is exact either
    way at the emitted precision).

    Shape at 10^12 docs: presence sets via ONE (doc, term) distinct
    groupBy; df via a combinable term groupBy; the pair generator is a
    SELF-JOIN ON doc_id of the df-bounded presence table with term_a <
    term_b — per-doc cost is |terms|² AFTER the df bounds, so max_df_frac
    (stop words) and min_df (hapax noise) are the blowup controls, and
    the join key (doc_id) is uniform by construction. Pairs shuffle as
    (term_a, term_b) for one final combinable count.

    Output: (term_a, term_b, pair_count, df_a, df_b, lift_e6), pairs with
    pair_count >= min_pair_count.
    """
    presence = df.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(_words("text"))).alias("term"),
    )
    n_docs = df.count()  # one row per document (id_col unique upstream)
    dfreq = presence.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    max_df = int(max_df_frac * n_docs)
    dfreq = dfreq.filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    bounded = presence.join(dfreq, "term").select("doc_id", "term", "df")
    a = bounded.select(
        "doc_id", F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    b = bounded.select(
        "doc_id", F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.first("df_a").alias("df_a"),
            F.first("df_b").alias("df_b"),
        )
        .filter(F.col("pair_count") >= min_pair_count)
    )
    lift = F.expr(
        f"(pair_count * CAST({n_docs} AS BIGINT) * 1000000)"
        " div (df_a * df_b)"
    )
    return pairs.withColumn("lift_e6", lift)


def bigram_lm_score(
    train: DataFrame,
    score: DataFrame,
    min_count: int = 1,
) -> DataFrame:
    """Bigram-LM fluency scoring — the CCNet/Gopher "perplexity filter"
    re-expressed portably: train bigram/context counts on a reference
    corpus, then score every candidate document by how predictable its
    word transitions are. High score ≈ fluent prose; low ≈ boilerplate,
    tag soup, gibberish — the standard pretraining quality gate.

    A real perplexity is exp(−mean log p) — log makes the score
    engine-float-dependent, so instead each in-vocabulary bigram (w1,w2)
    contributes its conditional probability in integer millionths:

        cond_e6(w1,w2) = (C(w1,w2) · 1e6) div C(w1·)
        lm_score_e6    = Σ cond_e6  div  n_bigrams      (0 when none)

    (mean conditional probability — monotone with fluency like the
    perplexity it proxies, but pure int64 mul/div/sum: bit-identical on
    any engine/partitioning.) Unseen bigrams contribute 0 and are counted
    in n_oov — the OOV rate is itself a quality feature.

    Shape at 10^12 docs: counts are two map-side-combinable groupBys over
    the TRAIN corpus (C(w1·) derived from the bigram table, one pass);
    scoring is one equi-join of candidate bigram OCCURRENCES on (w1,w2) —
    the LM table is df-bounded by `min_count` and broadcastable when the
    vocab is small — then one combinable per-doc sum. Text never crosses
    a shuffle; (doc_id, w1, w2) does.

    Output: one row per `score` doc — (doc_id, n_bigrams, n_oov,
    lm_score_e6); docs under 2 words score (0, 0, 0).
    """
    def big(df):
        w = _words("text")
        # zip_with over the two shifted slices (the ngrams_col shape);
        # sequence() is unusable here — sequence(1, 0) DESCENDS in Spark
        length = F.greatest(F.size(w) - 1, F.lit(0))
        pair = F.zip_with(
            F.slice(w, 1, length),
            F.slice(w, 2, length),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return (
            df.select(F.col("doc_id"), pair.alias("_ps"))
            .select("doc_id", F.explode("_ps").alias("_p"))
            .select("doc_id", "_p.w1", "_p.w2")
        )

    c2 = (
        big(train)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= min_count)
    )
    # context totals from the UNFILTERED bigram stream so probabilities
    # stay proper (sum over w2 of cond <= 1 even after min_count pruning)
    c1 = big(train).groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    lm = c2.join(c1, "w1").select(
        "w1", "w2", F.expr("(c2 * 1000000) div c1").alias("cond_e6")
    )
    sb = big(score)
    scored = (
        sb.join(lm, ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("cond_e6").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
            F.sum(F.coalesce("cond_e6", F.lit(0).cast("long"))).alias("_s"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        score.select(F.col("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", zero).alias("n_bigrams"),
            F.coalesce("n_oov", zero).alias("n_oov"),
            F.coalesce(F.expr("_s div n_bigrams"), zero).alias("lm_score_e6"),
        )
    )


def bpe_pair_counts(df: DataFrame, k: int = 50) -> DataFrame:
    """First BPE merge iteration — corpus-wide counts of adjacent symbol
    (character) pairs inside whitespace-delimited words, top-k by
    frequency. This is the inner loop of tokenizer training (Sennrich
    BPE / GPT-2 bytepair): run it, merge the winning pair, repeat; one
    distributed pass per merge is exactly how tokenizers are trained on
    web-scale corpora.

    Determinism: ties break by the pair itself (a asc, b asc), so the
    k-boundary is total-ordered on (count desc, a, b) in any engine.

    Shape at 100 TB: the pair explode is pure Column (transform over a
    sequence — stays in codegen), the count is ONE map-side-combinable
    groupBy on a tiny key space (alphabet², thousands of distinct keys —
    partials collapse almost everything before the exchange), and the
    top-k is a TakeOrdered over those few rows, never a global sort of
    the corpus.

    Output: (a, b, pair_count), ≤ k rows.
    """
    w = F.explode(_words("text")).alias("w")
    words = df.select(w).filter(F.length("w") >= 2)
    pair = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.struct(
            F.col("w").substr(i, F.lit(1)).alias("a"),
            F.col("w").substr(i + F.lit(1), F.lit(1)).alias("b"),
        ),
    )
    pairs = words.select(F.explode(pair).alias("_p")).select("_p.a", "_p.b")
    counts = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("pair_count"))
    return counts.orderBy(
        F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)


def align_segments(
    pairs: DataFrame,
    docs: DataFrame,
    words_per_seg: int = 12,
) -> DataFrame:
    """Positional segment alignment for document pairs — stage 2 of the
    bitext-mining pipeline after weburl.align_translations: chunk both
    sides of each aligned pair into fixed-width word segments and pair
    segment i with segment i (the positional baseline used to seed
    sentence aligners), scoring each aligned position with its size and
    DISTINCT shared-token count (the cheap lexical-anchor signal —
    numbers, names, and cognates survive translation).

    Shape at 10^12 docs: chunking is pure Column (sequence/slice/
    posexplode — codegen, no Python); each side joins to the pair list by
    doc id and the two sides meet in ONE hash equi-join on
    (pair, seg_idx). Shuffle rows are (pair_id, seg_idx, token array of
    `words_per_seg`) — bounded width, never whole documents; fan-out per
    doc is its segment count, linear not quadratic.

    Output: (id_a, id_b, seg_idx, n_tok_a, n_tok_b, n_shared) for segment
    indices present on BOTH sides (the min of the two chunk counts —
    trailing unmatched segments don't pair).
    """
    w = words_per_seg
    words = _words("text")
    d = docs.select(F.col("doc_id").alias("_id"), words.alias("_w")).filter(
        F.size("_w") > 0
    )
    n_chunks = F.floor((F.size("_w") + (w - 1)) / F.lit(w)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("_w", i * w + 1, w),
    )
    seg = d.select(
        "_id", F.posexplode(chunks).alias("seg_idx", "_toks")
    )
    a = seg.select(
        F.col("_id").alias("id_a"), F.col("seg_idx"),
        F.col("_toks").alias("_ta"),
    )
    b = seg.select(
        F.col("_id").alias("id_b"), F.col("seg_idx"),
        F.col("_toks").alias("_tb"),
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "seg_idx"])
        .select(
            "id_a", "id_b",
            F.col("seg_idx").cast("long").alias("seg_idx"),
            F.size("_ta").cast("long").alias("n_tok_a"),
            F.size("_tb").cast("long").alias("n_tok_b"),
            F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("n_shared"),
        )
    )


def term_geo_lift(df: DataFrame, res: int, min_cell_count: int = 2) -> DataFrame:
    """Regional term affinity — which words are LOCAL to a grid cell
    (place names, regional dialect, local events) vs uniformly global?
    The geo×text statistic behind toponym mining and regional corpus
    balancing: per (cell, term),

        lift_e6 = n_ct · T_total · 1e6  div  (n_term · n_cell)

    (observed over expected-under-independence, integer-exact; 1e6 =
    exactly proportional, ≫1e6 = locally concentrated). The products run
    in DECIMAL(38,0) — n·T·1e6 passes 2^63 at ~10^13 corpus tokens — and
    the truncating div drops the result back to BIGINT, matching DuckDB's
    HUGEINT `//` bit-for-bit. `min_cell_count`
    bounds the output to terms with real in-cell support — the same
    degenerate-head guard as inverted_index's min_df.

    Shape at 10^12 documents: explode tokens ONCE → one combinable
    (cell, term) count — the only token-grain exchange; term totals by a
    second combinable roll-up of the AGGREGATED frame, joined back by
    term equi-join (term totals can be vocabulary-sized — never
    broadcast); cell totals are grid-bounded → broadcast; the corpus
    total is one row → broadcast. No window, no cartesian.

    Output: (cell, term, n, term_total, cell_total, lift_e6), cell =
    x * 2^res + y of the res-grid (same xy convention as spatial ops).
    """
    from . import cells as _cells

    xg, yg = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    cell = (xg * (1 << res) + yg).cast("long")
    ct = (
        df.select(cell.alias("cell"), F.explode(_words("text")).alias("term"))
        .groupBy("cell", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    term_tot = ct.groupBy("term").agg(F.sum("n").alias("term_total"))
    cell_tot = ct.groupBy("cell").agg(F.sum("n").alias("cell_total"))
    grand = ct.agg(F.sum("n").alias("_t"))
    return (
        ct.filter(F.col("n") >= min_cell_count)
        .join(term_tot, "term")
        .join(F.broadcast(cell_tot), "cell")
        .crossJoin(F.broadcast(grand))
        .select(
            "cell", "term", "n", "term_total", "cell_total",
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * _t * 1000000 div "
                "(CAST(term_total AS DECIMAL(38,0)) * cell_total) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )


def vocab_growth(docs: DataFrame, bucket_docs: int) -> DataFrame:
    """Heaps-law vocabulary growth curve: scanning the corpus in doc_id
    order, how many NEW token types appear per bucket of `bucket_docs`
    documents, against cumulative token volume — the curve whose flattening
    says "more of the same crawl adds no new vocabulary" (dedup/source-mix
    health) and whose slope anomalies flag generated spam (vocabulary
    growing too fast) or template farms (too slow).

    A token's first occurrence is min(doc_id) over its postings — a pure
    aggregate, NOT a sequential scan, so the "cumulative" curve is exact
    and order-independent at any parallelism. Buckets: bucket =
    doc_id div bucket_docs.

    Scale shape at 10^12 docs: one explode → (token, doc) frame, ONE
    map-side-combinable min-groupBy per token (the only token-keyed
    exchange), one tiny per-bucket count, and a window cumsum over the
    BUCKET frame (thousands of rows, not documents). Token volume rides
    the same bucket key. No collect, no sort of the corpus.

    Output: (bucket, n_docs, n_tokens, new_types, cum_tokens, cum_types),
    one row per non-empty bucket, BIGINT throughout.
    """
    from pyspark.sql.window import Window

    if bucket_docs <= 0:
        raise ValueError("bucket_docs > 0")
    base = docs.select(
        F.expr(f"doc_id div {bucket_docs}").alias("bucket"),
        F.col("doc_id").alias("_id"),
        _words("text").alias("_ws"),
    )
    per_bucket = base.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("_ws")).cast("long").alias("n_tokens"),
    )
    firsts = (
        base.select("_id", F.explode("_ws").alias("_tok"))
        .groupBy("_tok")
        .agg(F.min("_id").alias("_first"))
        .select(F.expr(f"_first div {bucket_docs}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_bucket.join(firsts, "bucket", "left")
        .select(
            "bucket", "n_docs", "n_tokens",
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
        )
        .select(
            "bucket", "n_docs", "n_tokens", "new_types",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
        )
    )


def ngram_novelty(docs: DataFrame, n: int = 2) -> DataFrame:
    """Per-document n-gram novelty: of a doc's DISTINCT n-grams, the
    share first seen in THIS doc (first occurrence = min doc_id over the
    corpus — a pure aggregate, order-independent at any parallelism) —

        novelty_e6 = novel_types · 1e6 div n_gram_types

    The doc-grain twin of vocab_growth's corpus curve: generated spam
    scores anomalously HIGH (every doc mints fresh n-grams), template
    farms anomalously LOW (every doc reuses the site's grams). Docs with
    fewer than `n` words have no grams and are emitted with zeros.

    Scale shape at 10^12 docs: grams stay inside the scan stage (pure
    Column zip_with slices — no UDF), ONE distinct to (gram, doc), ONE
    combinable min-groupBy per gram (the only gram-keyed exchange), and
    novel counts come from the firsts frame alone (novel ⇔ min doc over
    postings equals this doc), so nothing ever joins back on the gram —
    the two count frames re-meet on the DOC key. Output is doc-keyed
    counters only.

    Output: (doc_id, n_gram_types, novel_types, novelty_e6).
    """
    base = docs.select(
        F.col("doc_id").alias("_id"),
        ngrams_col(_words("text"), n).alias("_gs"),
    )
    posts = base.select(
        "_id", F.explode("_gs").alias("_g")
    ).distinct()
    types = posts.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_gram_types")
    )
    novel = (
        posts.groupBy("_g").agg(F.min("_id").alias("_id"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("novel_types"))
    )
    return (
        docs.select(F.col("doc_id").alias("_id"))
        .join(types, "_id", "left")
        .join(novel, "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("n_gram_types", F.lit(0)).cast("long")
            .alias("n_gram_types"),
            F.coalesce("novel_types", F.lit(0)).cast("long")
            .alias("novel_types"),
            F.expr(
                "CASE WHEN coalesce(n_gram_types, 0) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(novel_types, 0) * 1000000 div n_gram_types END"
            ).alias("novelty_e6"),
        )
    )


def rrf_fuse(rankings: list[DataFrame], top_k: int = 25) -> DataFrame:
    """Reciprocal-rank fusion of ranked candidate lists — the standard
    hybrid-search combiner (BM25 ⊕ dense cosine ⊕ freshness): each input
    ranking contributes 1/(k + rank) per document, summed across
    rankers, re-ranked by the fused score. In e6 fixed point,

        rrf_e6 = Σ_r 1e6 div (60 + rank_r(doc))

    with rank from 1 by (score DESC, id ASC) — a truncating integer div
    per ranker BEFORE the sum, so the fusion is bit-identical on any
    engine (the float 1/(k+r) sum would be order-dependent). Documents
    absent from a ranker contribute 0 from it (the RRF convention).
    Fused ties break by id ascending.

    Shape: each input is ALREADY a top-k candidate list (k rows — that
    is RRF's contract; feeding a corpus-sized frame here is a misuse, so
    the single-partition rank window over k rows is metadata-scale, not
    a scale hazard). One union of (id, term) pairs + one combinable sum
    + TakeOrdered(top_k). Never touches raw documents.

    Output: (doc_id, n_rankers, rrf_e6) — top_k rows, fused order.
    """
    from pyspark.sql.window import Window

    parts = []
    for r in rankings:
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        parts.append(
            r.select(
                F.col("doc_id"),
                F.row_number().over(w).alias("_rank"),
            ).select(
                "doc_id",
                F.expr("CAST(1000000 div (60 + _rank) AS BIGINT)")
                .alias("_term"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rankers"),
        F.sum("_term").alias("rrf_e6"),
    )
    return (
        fused.orderBy(F.col("rrf_e6").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


# Symbol brackets for the merge-replace representation: each symbol is
# written \x01sym\x02, so a merge (a, b) is ONE plain left-to-right
# replace of \x01a\x02\x01b\x02 with \x01ab\x02 — brackets are per
# symbol (nothing shared between neighbors, unlike a space separator),
# so a single non-overlapping replace pass merges EVERY left-to-right
# adjacency, which is exactly canonical greedy BPE merge application.
# A space-separator encoding is subtly wrong: adjacent occurrences
# share their boundary space, one pass merges only alternate pairs, and
# the fixpoint segments "ababab…" differently from the greedy scan.
_BPE_L, _BPE_R = "\x01", "\x02"
_BPE_WORD_CAP = 128


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    top_k: int = 50,
) -> DataFrame:
    """Apply a FIXED BPE merge table and count the resulting subword
    tokens — the encode half of byte-pair encoding (bpe_pair_counts is
    the training half). Each word becomes bracketed symbols (chars),
    every merge (a, b) → ab applies in table order as ONE plain string
    replace (see _BPE_L: per-symbol brackets make a single
    left-to-right non-overlapping replace identical to canonical greedy
    merge-all). Both engines' replace() scan the same way, so the token
    stream is bit-identical and the DuckDB oracle (same chained
    replaces) compares value-exact.

    Words truncate at _BPE_WORD_CAP symbols (identically both sides);
    the bracket control chars are reserved — input text containing
    \\x01/\\x02 is stripped of them first (both sides). The merge table
    is pipeline CONFIG (vocabulary-sized, compiled into the expression
    tree as literals) — never a data-sized join.

    Shape at 10^12 docs: tokenize/merge/split are scan-stage Column ops;
    ONE combinable (token, count) groupBy; TakeOrdered(top_k) — no global
    sort, no shuffle of raw text.

    Output: (token, cnt) — top_k by (cnt DESC, token ASC).
    """
    L, R = _BPE_L, _BPE_R
    for a, b in merges:
        if not a or not b or not set(a + b).isdisjoint({" ", L, R}):
            raise ValueError(
                "merge symbols must be non-empty, free of spaces/brackets"
            )
    clean = F.replace(
        F.replace(F.col("_w"), F.lit(L), F.lit("")), F.lit(R), F.lit("")
    )
    sym = F.array_join(
        F.transform(
            F.slice(F.split(clean, ""), 1, _BPE_WORD_CAP),
            lambda c: F.concat(F.lit(L), c, F.lit(R)),
        ),
        "",
    )
    for a, b in merges:
        sym = F.replace(
            sym, F.lit(f"{L}{a}{R}{L}{b}{R}"), F.lit(f"{L}{a}{b}{R}")
        )
    unbracketed = F.replace(
        F.replace(F.replace(sym, F.lit(f"{R}{L}"), F.lit(" ")),
                  F.lit(L), F.lit("")),
        F.lit(R), F.lit(""),
    )
    toks = (
        df.select(F.explode(_words("text")).alias("_w"))
        .select(F.explode(F.split(unbracketed, " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(top_k)


def kwic(df: DataFrame, term: str, width: int = 3) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of `term` as a
    whitespace token, with up to `width` tokens of context either side —
    the corpus-inspection primitive behind "show me how this term is
    actually used" (sense disambiguation, boilerplate spotting, prompt
    leakage review). Exact token-position semantics (no regex windows,
    which disagree across engines on overlapping matches): positions come
    from the token array, context is an array slice, both engines slice
    identically.

    Shape at 10^12 docs: tokenize + posexplode are scan-stage codegen;
    the term filter drops everything else before any exchange; output
    rows are one per occurrence. For a selective term this is a
    zero-shuffle scan, same envelope as term search.

    Output: (doc_id, pos, context) — pos is the 1-based token index.
    """
    if not term or " " in term:
        raise ValueError("term must be a non-empty single token")
    toks = df.select(
        F.col("doc_id"), _words("text").alias("_ws")
    ).select(
        "doc_id", "_ws",
        F.posexplode("_ws").alias("_i0", "_w"),
    ).filter(F.col("_w") == term)
    return toks.select(
        "doc_id",
        (F.col("_i0") + 1).cast("long").alias("pos"),
        F.array_join(
            F.slice(
                F.col("_ws"),
                F.greatest(F.lit(1), F.col("_i0") + 1 - width),
                # slice takes (start, LENGTH); clamp both ends
                F.least(
                    F.size("_ws"), F.col("_i0") + 1 + width
                ) - F.greatest(F.lit(1), F.col("_i0") + 1 - width) + 1,
            ),
            " ",
        ).alias("context"),
    )


def bpe_train(df: DataFrame, n_merges: int) -> DataFrame:
    """Train a BPE merge table ON the corpus — the missing third of the
    tokenizer lifecycle (bpe_pair_counts = one iteration's statistics,
    bpe_encode = applying a FIXED table; this is the loop that produces
    the table, Sennrich et al. 2016).

    The real-trainer shape: pay the corpus ONCE for a (word, count)
    vocabulary (one map-side-combinable exchange — at 100 TB the vocab
    frame is bounded by DISTINCT words, thousands of times smaller than
    the data), then run every merge round on the weighted vocab:
      round = one pair-count groupBy over the vocab + one 1-row
      TakeOrdered argmax (count desc, a asc, b asc — total order, so
      training is deterministic in any engine/partitioning) + one
      literal string replace applying the winner.
    Words are bracketed symbol strings (bpe_encode's \\x01sym\\x02
    representation), so applying a merge is ONE non-overlapping
    left-to-right replace — identical to canonical greedy merge-all.
    localCheckpoint every 8 rounds bounds the replace
    lineage; each round's cost is vocab-scale, never corpus-scale.

    Sequential-by-nature (merge r+1's statistics depend on merge r), so
    NO SQL oracle — like isotonic_fit; correctness is pytest vs a brute
    reference trainer plus the new-pair-count upper-bound law.

    Output: (step, a, b, pair_count) — the merge table in training
    order, ready for bpe_encode.
    """
    L, R = _BPE_L, _BPE_R
    clean = F.replace(
        F.replace(F.col("_w"), F.lit(L), F.lit("")), F.lit(R), F.lit("")
    )
    sym = F.array_join(
        F.transform(
            F.slice(F.split(clean, ""), 1, _BPE_WORD_CAP),
            lambda c: F.concat(F.lit(L), c, F.lit(R)),
        ),
        "",
    )
    vocab = (
        df.select(F.explode(_words("text")).alias("_w"))
        .filter(F.length("_w") > 0)
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(sym.alias("_s"), "_cnt")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    spark = df.sparkSession
    for step in range(n_merges):
        # symbols of each word: strip the outer brackets, split on R+L
        syms = F.split(
            F.expr("substring(_s, 2, length(_s) - 2)"), f"{R}{L}"
        )
        pair = F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("a"),
                    F.element_at(syms, i + 1).alias("b"),
                ),
            )
        ).alias("p")
        top = (
            vocab.filter(F.size(syms) >= 2)
            .select(pair, "_cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("_cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((step, a, b, n))
        vocab = vocab.withColumn(
            "_s",
            F.replace(
                F.col("_s"), F.lit(f"{L}{a}{R}{L}{b}{R}"), F.lit(f"{L}{a}{b}{R}")
            ),
        )
        if (step + 1) % 8 == 0 and step + 1 < n_merges:
            vocab = vocab.localCheckpoint()
    return spark.createDataFrame(
        merges, "step long, a string, b string, pair_count long"
    )


def ranking_eval(results: DataFrame, judgments: DataFrame, k: int = 10) -> DataFrame:
    """Per-query retrieval quality: MRR, hits@k, nDCG@k — the evaluation
    harness for the bm25_rank / rrf_fuse / ANN family (a ranker without
    an eval loop is untestable at corpus scale). One left join of
    results onto judgments + one per-query aggregate; judgment lists are
    the small side (broadcast).

    Portability contract: n_rel / first_rel_rank / hits_at_k are
    integers and mrr is ONE division (1/first_rel_rank — exact-rounded,
    bit-identical in any IEEE engine). ndcg_at_k is ADVISORY: its
    gain/log2 sum is float summation-order dependent across engines —
    exact-oracle queries compare the integer columns + mrr and treat
    ndcg as informative (the est/est_raw split of hll_estimate).

    Queries with no relevant result in the top-k emit first_rel_rank
    NULL and mrr 0.0 (the standard convention).

    Output: (query_id, n_judged, n_rel_topk, first_rel_rank, mrr,
    hits_at_k, ndcg_at_k).
    """
    j = F.broadcast(
        judgments.select(
            F.col("query_id"), F.col("doc_id"), F.col("rel").cast("long").alias("_rel")
        )
    )
    r = results.select("query_id", "doc_id", F.col("rank").cast("long").alias("_rk"))
    joined = r.join(j, ["query_id", "doc_id"], "left").withColumn(
        "_rel", F.coalesce(F.col("_rel"), F.lit(0).cast("long"))
    )
    topk = joined.filter(F.col("_rk") <= k)
    gain = (F.pow(F.lit(2.0), F.col("_rel").cast("double")) - 1.0) / F.log2(
        F.col("_rk").cast("double") + 1.0
    )
    per_q = topk.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_judged"),
        F.sum((F.col("_rel") > 0).cast("long")).alias("n_rel_topk"),
        F.min(F.when(F.col("_rel") > 0, F.col("_rk"))).alias("first_rel_rank"),
        F.sum((F.col("_rel") > 0).cast("long") * (F.col("_rk") <= k).cast("long")).alias("hits_at_k"),
        F.sum(F.when(F.col("_rel") > 0, gain).otherwise(F.lit(0.0))).alias("_dcg"),
    )
    # ideal DCG from the query's judged relevances, best-first
    ideal = (
        j.groupBy("query_id")
        .agg(F.sort_array(F.collect_list("_rel"), asc=False).alias("_rels"))
        .select(
            "query_id",
            F.aggregate(
                F.zip_with(
                    F.slice("_rels", 1, k),
                    F.sequence(F.lit(1), F.least(F.size("_rels"), F.lit(k))),
                    lambda rel, i: (
                        (F.pow(F.lit(2.0), rel.cast("double")) - 1.0)
                        / F.log2(i.cast("double") + 1.0)
                    ),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("_idcg"),
        )
    )
    out = per_q.join(ideal, "query_id", "left").select(
        "query_id",
        "n_judged",
        "n_rel_topk",
        "first_rel_rank",
        F.when(
            F.col("first_rel_rank").isNotNull(),
            F.lit(1.0) / F.col("first_rel_rank").cast("double"),
        ).otherwise(F.lit(0.0)).alias("mrr"),
        F.col("hits_at_k").cast("long").alias("hits_at_k"),
        F.when(
            F.coalesce(F.col("_idcg"), F.lit(0.0)) > 0.0,
            F.col("_dcg") / F.col("_idcg"),
        ).otherwise(F.lit(0.0)).alias("ndcg_at_k"),
    )
    return out


def term_dispersion(df: DataFrame, part_col: str, min_freq: int = 10) -> DataFrame:
    """Gries' DP term dispersion: how evenly a term spreads over corpus
    parts (dumps, sources, languages) — DP = ½·Σᵢ|vᵢ − sᵢ| where vᵢ is
    the term's frequency share in part i and sᵢ the part's token share.
    DP ≈ 0: distributed like the corpus itself (function words, safe
    vocabulary); DP → 1: clumped in one part (topic burst, spam cluster,
    dump-specific boilerplate) — the corpus-linguistics complement to
    token_lift's association scoring.

    Exact-integer surface over the common denominator: num = Σᵢ|fᵢ·T −
    f·tᵢ| and den = 2·f·T are BIGINTs (fᵢ = term count in part, f = Σfᵢ,
    tᵢ = part token count, T = Σtᵢ); dp itself is the one division,
    emitted as an exactly-rounded e6 fixed-point integer (dp_e6 = num·10⁶
    div den) plus an advisory double. Int64 bound: f·T < 2⁶³ needs
    f·T ≲ 9·10¹⁸ — at larger corpora shard by time slice and average, or
    pre-threshold f (min_freq already bounds the tail).

    Shape: ONE tokenize-explode → combinable (part, term) count; part
    totals are a metadata-scale broadcast; the per-term fold over parts
    is a second combinable groupBy. Terms below ``min_freq`` total drop.

    Output: (term, f, dp_num, dp_den, dp_e6, dp).
    """
    tok = df.select(
        F.col(part_col).alias("_p"), F.explode(_words("text")).alias("_w")
    )
    tc = tok.groupBy("_p", "_w").agg(F.count(F.lit(1)).alias("_f"))
    parts = tok.groupBy("_p").agg(F.count(F.lit(1)).alias("_t"))
    totals = tc.groupBy("_w").agg(F.sum("_f").alias("_ftot"))
    big_t = parts.agg(F.sum("_t").alias("_tot_t"))

    j = (
        tc.join(F.broadcast(parts), "_p")
        .join(totals.filter(F.col("_ftot") >= min_freq), "_w")
        .crossJoin(F.broadcast(big_t))
    )
    # per-(term, part) |f_i·T − f·t_i|; parts where the term is absent
    # contribute f·t_i — folded in exactly as (f·T − Σ_present f·t_i)
    # ... which equals Σ_absent f·t_i since Σ_i t_i = T
    per = j.groupBy("_w", "_ftot", "_tot_t").agg(
        F.sum(F.abs(F.col("_f") * F.col("_tot_t") - F.col("_ftot") * F.col("_t")))
        .alias("_present"),
        F.sum(F.col("_ftot") * F.col("_t")).alias("_mass"),
    )
    num = F.col("_present") + (F.col("_ftot") * F.col("_tot_t") - F.col("_mass"))
    den = 2 * F.col("_ftot") * F.col("_tot_t")
    e6num = num * F.lit(1_000_000)
    out = per.select(
        F.col("_w").alias("term"),
        F.col("_ftot").alias("f"),
        num.alias("dp_num"),
        den.alias("dp_den"),
    ).withColumn(
        "dp_e6",
        F.expr("(dp_num * 1000000) div dp_den"),
    ).withColumn(
        "dp", F.col("dp_num").cast("double") / F.col("dp_den").cast("double")
    )
    return out


def text_tiles(df: DataFrame, block: int = 20) -> DataFrame:
    """TextTiling-style topic segmentation (Hearst 1997, integerized):
    split each document into fixed ``block``-token blocks, score every
    gap between adjacent blocks by lexical overlap, and mark topic
    boundaries at interior LOCAL MINIMA of the overlap curve — where
    the vocabulary before and after stops being shared. The document-
    structure primitive for chunking long pages at topic shifts instead
    of blind fixed windows (the RAG-chunking upgrade to
    chunk_documents).

    Integer discipline: overlap(g) = Σ_t min(count_t(block g),
    count_t(block g+1)) — multiset intersection size, a BIGINT; the
    boundary test is lag/lead comparison (strictly below the previous
    gap, at-most the next — the asymmetry makes plateaus yield exactly
    one boundary, deterministically). No cosine, no floats — Hearst's
    normalized similarity only changes WHICH minima win ties; the
    integer overlap keeps the surface engine-exact.

    Shape: posexplode → (doc, block, term) counts (ONE combinable
    groupBy); adjacent-pair overlap is an equi-join on (doc, term,
    block+1); the dense gap spine (gaps with ZERO shared terms must
    still appear) comes from a per-doc sequence explode; lag/lead run
    per doc over its gap count — partitions are gap-count-sized, never
    corpus-sized.

    Output: (id, gap, overlap, prev_overlap, next_overlap, is_boundary)
    — gap g sits between blocks g and g+1; docs with < 2 blocks emit
    nothing.
    """
    d, t = F.col("doc_id"), F.col("text")
    toks = df.select(
        d.alias("_id"), F.posexplode(_words("text")).alias("_pos", "_w")
    )
    bc = (
        toks.select("_id", F.expr(f"_pos div {block}").alias("_b"), "_w")
        .groupBy("_id", "_b", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nxt = bc.select(
        "_id", (F.col("_b") - 1).alias("_b"), F.col("_w"),
        F.col("_c").alias("_c2"),
    )
    ov = (
        bc.join(nxt, ["_id", "_b", "_w"])
        .groupBy("_id", "_b")
        .agg(F.sum(F.least("_c", "_c2")).alias("_ov"))
    )
    nblocks = bc.groupBy("_id").agg((F.max("_b") + 1).alias("_nb"))
    spine = nblocks.filter(F.col("_nb") >= 2).select(
        "_id", F.explode(F.sequence(F.lit(0), F.col("_nb") - 2)).alias("_b")
    )
    dense = spine.join(ov, ["_id", "_b"], "left").select(
        "_id", "_b", F.coalesce("_ov", F.lit(0)).cast("long").alias("_ov")
    )
    w = Window.partitionBy("_id").orderBy("_b")
    out = dense.select(
        F.col("_id").alias("id"),
        F.col("_b").cast("long").alias("gap"),
        F.col("_ov").alias("overlap"),
        F.lag("_ov").over(w).alias("prev_overlap"),
        F.lead("_ov").over(w).alias("next_overlap"),
    )
    ib = (
        F.col("prev_overlap").isNotNull()
        & F.col("next_overlap").isNotNull()
        & (F.col("overlap") < F.col("prev_overlap"))
        & (F.col("overlap") <= F.col("next_overlap"))
    )
    return out.withColumn("is_boundary", ib)


def cooccurrence_lift(
    df: DataFrame,
    id_col: str,
    window: int = 3,
    min_pair: int = 5,
) -> DataFrame:
    """Windowed co-occurrence association (the word2vec-era statistic):
    unordered term pairs within ±``window`` token positions, scored by
    LIFT = P(pair) / (P(x)·P(y)) — the exact-integer core of PMI
    (PMI = log lift; log is monotone, so ranking/thresholding on
    lift_e6 IS ranking on PMI with no transcendental on the gate
    surface). token_lift is the doc-level cousin; the positional window
    is what separates collocations ("new york") from mere topical
    co-presence.

    Counting discipline: pair occurrences = positions i < j with
    j − i ≤ window (tokens canonically ordered inside the pair);
    singleton totals count every position; lift_e6 = (c_xy · T · 10⁶)
    div (window · c_x · c_y) — all BIGINT via the double-mod exact
    floor (w_eff = window normalizes the ~window pair slots each
    position opens; boundary loss is second-order for docs ≫ window).

    Shape: posexplode → (doc, pos, term) keyed by the CALLER's id
    column (a content hash would silently merge duplicate documents'
    position spaces and cross-multiply their pair counts — exactly the
    duplicate-heavy case a web corpus guarantees); the pair generator
    replicates
    each position to its `window` following offsets and meets the
    partner in an EQUI-join on (doc, pos) — never a theta band join;
    two combinable groupBys.

    Output: (term_a, term_b, n_pair, n_a, n_b, lift_e6), term_a <
    term_b, n_pair >= min_pair.
    """
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(_words("text")).alias("_pos", "_w"),
    )
    totals = toks.groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    t_pos = toks.count()
    offs = F.explode(F.array(*[F.lit(i) for i in range(1, window + 1)]))
    left = toks.select(
        "_doc", F.col("_pos"), F.col("_w").alias("_wl"), offs.alias("_o")
    ).withColumn("_pos2", F.col("_pos") + F.col("_o"))
    right = toks.select(
        "_doc", F.col("_pos").alias("_pos2"), F.col("_w").alias("_wr")
    )
    pairs = (
        left.join(right, ["_doc", "_pos2"])
        .select(
            F.least("_wl", "_wr").alias("a"),
            F.greatest("_wl", "_wr").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair)
    )
    out = (
        pairs.join(totals.select(F.col("_w").alias("a"),
                                 F.col("_c").alias("n_a")), "a")
        .join(totals.select(F.col("_w").alias("b"),
                            F.col("_c").alias("n_b")), "b")
        .withColumn("_num", F.col("n_pair") * F.lit(t_pos) * F.lit(1_000_000))
        .withColumn("_den", F.lit(window) * F.col("n_a") * F.col("n_b"))
        .withColumn(
            "_adj",
            F.col("_num") - ((F.col("_num") % F.col("_den") + F.col("_den"))
                             % F.col("_den")),
        )
        .withColumn("lift_e6", F.expr("_adj div _den"))
    )
    return out.select(
        F.col("a").alias("term_a"), F.col("b").alias("term_b"),
        "n_pair", "n_a", "n_b", "lift_e6",
    )


def vocab_coverage(docs: DataFrame, ks: list[int]) -> DataFrame:
    """Top-k type coverage curve (tokenizer-vocabulary budgeting): for each
    k in `ks`, what share of all token OCCURRENCES is covered by the k most
    frequent types — the number that decides a tokenizer's vocab size and
    exposes template corpora (tiny k already covers ~everything) vs noisy
    OCR (coverage crawls).

    Tie-independence BY CONSTRUCTION: a k that cuts inside a block of
    equally-frequent types contributes (k − types_above) · c regardless of
    which tied types are "taken" — all carry the same count c — so the
    curve is a pure function of the count HISTOGRAM and never needs a
    global type ranking or a tie rule.

    Scale shape at 10^12 tokens: one tokenize-explode, ONE map-side-
    combinable (token) count (the only token-keyed exchange), then a
    frequency-of-frequencies histogram (distinct counts — heavy-tailed
    corpora have thousands of rows, not vocab-sized), a window cumsum over
    THAT, and a broadcast-size range join of the |ks| cutoffs. No global
    sort, no collect.

    Output per k: (k, covered, total, coverage_e6) — covered = occurrences
    under the top-k types (= total when k ≥ vocab), coverage_e6 the exact
    floor fixed point. BIGINT throughout.
    """
    if not ks or any(k <= 0 for k in ks):
        raise ValueError("ks must be positive")
    counts = (
        docs.select(F.explode(_words("text")).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    hist = counts.groupBy("_c").agg(F.count(F.lit(1)).alias("_m"))
    w = Window.orderBy(F.col("_c").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "_c", "_m",
        F.sum("_m").over(w).cast("long").alias("_types_thru"),
        F.sum(F.col("_c") * F.col("_m")).over(w).cast("long").alias("_mass_thru"),
    ).select(
        "_c",
        (F.col("_types_thru") - F.col("_m")).alias("_types_above"),
        (F.col("_mass_thru") - F.col("_c") * F.col("_m")).alias("_mass_above"),
        "_types_thru", "_mass_thru",
    )
    spark = docs.sparkSession
    kdf = spark.createDataFrame([(int(k),) for k in sorted(set(ks))], "k long")
    tot = counts.agg(
        F.sum("_c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("_vocab"),
    )
    # each k lands in exactly one histogram block: the first (largest-c)
    # block whose cumulative type count reaches k; k beyond the vocab
    # covers everything
    j = (
        kdf.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(cum),
            (F.col("_types_above") < F.col("k"))
            & (F.col("k") <= F.col("_types_thru")),
            "left",
        )
        .select(
            "k", "total",
            F.when(
                F.col("_c").isNull(), F.col("total")  # k >= vocab
            ).otherwise(
                F.col("_mass_above")
                + (F.col("k") - F.col("_types_above")) * F.col("_c")
            ).cast("long").alias("covered"),
        )
    )
    return j.select(
        "k", "covered", "total",
        F.expr("(covered * 1000000) div total").alias("coverage_e6"),
    )


def good_turing_mass(docs: DataFrame, max_r: int = 5) -> DataFrame:
    """Good-Turing frequency-of-frequencies surface: N_r (how many types
    occur exactly r times, r = 1..max_r) plus the Turing unseen-mass
    estimate p0 = N_1 / N — the share of the true distribution held by
    tokens the corpus has NEVER seen.  The corpus-completeness number
    behind LM smoothing and "is this crawl slice saturated" calls, and the
    companion of vocab_growth's flattening curve (p0 → 0 as the crawl
    saturates; a high p0 says more data still buys new vocabulary).

    Same scale shape as vocab_coverage: one token count (the only
    token-keyed exchange) + a histogram aggregate; the output is max_r + 1
    rows of pure BIGINT (`r`, `n_r`, total `n`, and for r=0 the unseen
    mass p0_e6 = N_1·1e6 div N — exact floor, no float path).
    """
    if max_r <= 0:
        raise ValueError("max_r > 0")
    counts = (
        docs.select(F.explode(_words("text")).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    hist = (
        counts.filter(F.col("_c") <= max_r)
        .groupBy("_c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    )
    tot = counts.agg(F.sum("_c").cast("long").alias("n"))
    spark = docs.sparkSession
    rs = spark.createDataFrame([(int(r),) for r in range(1, max_r + 1)], "r long")
    dense = (
        rs.join(F.broadcast(hist.withColumnRenamed("_c", "r")), "r", "left")
        .select("r", F.coalesce("n_r", F.lit(0)).cast("long").alias("n_r"))
    )
    n1 = dense.filter(F.col("r") == 1).select(F.col("n_r").alias("_n1"))
    p0 = (
        n1.crossJoin(F.broadcast(tot))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.col("_n1").alias("n_r"),
            "n",
            F.expr("(_n1 * 1000000) div n").alias("p0_e6"),
        )
    )
    rows = (
        dense.crossJoin(F.broadcast(tot))
        .select("r", "n_r", "n", F.lit(None).cast("long").alias("p0_e6"))
    )
    return p0.unionByName(rows)
