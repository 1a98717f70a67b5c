"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Design for 10^12 rows: nothing here ever materializes an O(n²) comparison.
  * exact: one hash-partitioned groupBy on the content key;
  * n-gram Jaccard: inverted shingle index (explode → self-join on shingle →
    count per pair) — exact, touches only pairs sharing ≥1 shingle;
  * MinHash+LSH: per-row signature (JVM-only higher-order functions — no
    Python), banded bucket keys, candidates from equi-joins on (band, key),
    exact Jaccard verify on candidates only;
  * SimHash: 64 bit-majority aggregates + banded Hamming candidate join;
  * embedding cosine: see ann.py (brute-force vs LSH-bucketed).

Everything is deterministic (xxhash64 seeds, no RNG state)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pbf2json_spark.graph import connected_components

# --- exact ------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, key: Column | str = "text") -> DataFrame:
    """Keep the min-id row per exact content key; report group size.
    One shuffle (hash groupBy); the key is pre-hashed so the exchange
    carries 16 bytes, not documents.

    The group key is 128 bits — TWO independent xxhash64 passes. A single
    64-bit key at the 10^12-row design point expects ~n²/2^65 ≈ 27,000
    birthday collisions = silently merged distinct documents; at 128 bits
    the expectation is n²/2^129 ≈ 1.5e-15 — zero for any physical corpus.
    Independence matters: ``xxhash64(lit(1), key)`` re-hashes the full key
    under a different effective seed (the literal's hash), whereas
    ``xxhash64(key, lit(1))`` would only permute the FIRST hash's output
    (Spark chains multi-arg hashes), leaving the pair 64-bit-weak."""
    key_col = F.col(key) if isinstance(key, str) else key
    return (
        df.select(
            F.col(id_col),
            F.xxhash64(key_col).alias("_ka"),
            F.xxhash64(F.lit(1), key_col).alias("_kb"),
        )
        .groupBy("_ka", "_kb")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("_ka", "_kb")
    )


# --- shingling ----------------------------------------------------------------------


def word_shingles(text: Column, n: int) -> Column:
    """Distinct word n-grams (lowercased, whitespace-split) as array<string>."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    if n == 1:
        return F.array_distinct(words)
    # sequence(0, x) with x<0 would generate a DESCENDING array — guard short docs
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]),
    )
    return F.array_distinct(grams)


# --- exact n-gram Jaccard via inverted index ----------------------------------------


def _rarest_first(sh: DataFrame) -> DataFrame:
    """(_id, _ord): each document's shingles `_sh` ordered rarest first by
    global frequency (ties by shingle) — the prefix-filter order."""
    tok = sh.select("_id", F.explode("_sh").alias("_g"))
    freq = tok.groupBy("_g").agg(F.count(F.lit(1)).alias("_f"))
    return (
        tok.join(freq, "_g")
        .groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_f", "_g"))),
                lambda s: s["_g"],
            ).alias("_ord")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """All unordered pairs (a<b) with Jaccard(shingles_a, shingles_b) ≥
    threshold. EXACT result either way.

    prefix_filter=True (the scale path) applies the classic prefix-filtering
    theorem (set-similarity-join literature): order shingles by global
    frequency (rarest first); if Jaccard(A,B) ≥ t, the first
    |A| − ⌈t·|A|⌉ + 1 shingles of A must intersect the corresponding prefix
    of B — so only PREFIX tokens enter the inverted index. Hot shingles
    ('the', boilerplate n-grams) fall out of the prefixes, killing the
    quadratic hot-token candidate blowup; the exact Jaccard verify on the
    candidates restores exactness.

    prefix_filter=False indexes every shingle (counts co-occurrences —
    cheaper per-pair verify, no frequency pass); right for small inputs."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), n).alias("_sh"),
    ).withColumn("_size", F.size("_sh"))

    if not prefix_filter:
        inv = sh.select("_id", "_size", F.explode("_sh").alias("_g"))
        a = inv.select(F.col("_id").alias("a"), F.col("_size").alias("_sa"), "_g")
        b = inv.select(F.col("_id").alias("b"), F.col("_size").alias("_sb"), "_g")
        pairs = (
            a.join(b, "_g")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b", "_sa", "_sb")
            .agg(F.count(F.lit(1)).alias("_common"))
            .withColumn(
                "jaccard",
                F.col("_common") / (F.col("_sa") + F.col("_sb") - F.col("_common")),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        return pairs.select("a", "b", "jaccard")

    ordered = _rarest_first(sh)
    prefix_len = (
        F.size("_ord") - F.ceil(F.lit(float(threshold)) * F.size("_ord")) + 1
    ).cast("int")
    prefixes = ordered.select(
        "_id", F.slice("_ord", 1, prefix_len).alias("_pre")
    )
    inv = prefixes.select("_id", F.explode("_pre").alias("_g"))
    cand = (
        inv.alias("l")
        .join(inv.alias("r"), "_g")
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    sha = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("_sha"))
    shb = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("_shb"))
    verified = (
        cand.join(sha, "a")
        .join(shb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb"))
            / F.size(F.array_union("_sha", "_shb")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a", "b", "jaccard")


# --- MinHash + LSH --------------------------------------------------------------------


_MINHASH_P = 2147483647  # 2^31-1 (Mersenne prime)


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation coefficients, a ∈ [1, p), b ∈ [0, p);
    shared by the Spark column builder and the DuckDB oracle generator."""
    import random

    rng = random.Random(7)
    return [
        (rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P))
        for _ in range(num_perm)
    ]


def minhash_signature_portable(shingles: Column, num_perm: int) -> Column:
    """Portable minhash: 32-bit md5-derived shingle hash, permutations
    (a·h + b) mod 2^31-1. Every intermediate stays < 2^63 (a < 2^31,
    h < 2^32), so plain 64-bit integer arithmetic is exact and identical
    in any engine — the value-exact-oracle family. The xxhash64 family
    (minhash_signature) stays the cheap JVM path for production LSH."""
    hs = F.transform(
        shingles,
        lambda g: F.conv(
            F.substring(F.md5(g.cast("binary")), 1, 8), 16, 10
        ).cast("long"),
    )
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hs, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P)
                )
            )
            for a, b in minhash_coeffs(num_perm)
        ]
    )


def minhash_signature(shingles: Column, num_perm: int) -> Column:
    """num_perm minhash values, each = min over shingles of xxhash64(g, i).
    Pure higher-order functions — evaluated JVM-side per row."""
    return F.array(
        *[F.array_min(F.transform(shingles, lambda g: F.xxhash64(g, F.lit(i)))) for i in range(num_perm)]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """Candidate pairs from banded minhash buckets, then EXACT Jaccard verify
    (no false positives; recall is the standard LSH S-curve at
    rows-per-band = num_perm/bands).

    Shuffle discipline (the 10^12-row design point): only (id, band, bkey) —
    24 bytes/row — crosses the candidate self-join; the shingle arrays stay
    put and are hash-joined back onto the DEDUPLICATED candidate pairs for
    the verify step."""
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    rows_per_band = num_perm // bands
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), n).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    sig = sh.withColumn("_sig", minhash_signature(F.col("_sh"), num_perm))
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("_sig", bi * rows_per_band + j + 1)
                                    for j in range(rows_per_band)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("_band"), F.col("_b.bkey").alias("_bkey"))

    left = banded.select(F.col("_id").alias("a"), "_band", "_bkey")
    right = banded.select(F.col("_id").alias("b"), "_band", "_bkey")
    cand = (
        left.join(right, ["_band", "_bkey"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    sha = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("_sha"))
    shb = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("_shb"))
    verified = (
        cand.join(sha, "a")
        .join(shb, "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb"))
            / F.size(F.array_union("_sha", "_shb")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("a", "b", "jaccard")


def dedup_groups(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs (a, b) → (id, rep) where
    rep is the component minimum: graph.connected_components (pointer
    doubling, O(log diameter) rounds)."""
    return connected_components(pairs)


# --- SimHash ------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str, text_col: str = "text", hash: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash: bit i of the hash = majority vote of bit i over the
    hash of each distinct word. Explode + 64 conditional sums: one
    shuffle, all JVM.

    hash='xxhash64' (default) is the cheapest JVM path; hash='md5_60'
    derives a 60-bit word hash from md5 hex (conv base16→10), which is
    computable bit-for-bit in other engines (DuckDB: '0x'||substr(md5(w))
    cast) — the portable family the value-exact oracle uses. Bits 60-63
    of an md5_60 simhash are always 0 (every word votes -1)."""
    if hash == "xxhash64":
        h = F.xxhash64("_w")
    elif hash == "md5_60":
        h = F.conv(
            F.substring(F.md5(F.col("_w").cast("binary")), 1, 15), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hash family {hash!r}")
    words = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), 1)).alias("_w"),
    ).withColumn("_h", h)
    bit_sums = [
        F.sum(
            F.when(F.shiftrightunsigned("_h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    agg = words.groupBy("_id").agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"_b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col("_id").alias(id_col), sim.alias("simhash"))


def simhash_pairs(
    sim: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming. Bands the 64 bits into
    max_hamming+1 chunks (pigeonhole: any pair within the bound shares at
    least one exact chunk → recall 1.0), verifies with bit_count(xor)."""
    nb = max_hamming + 1
    width = 64 // nb
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned("simhash", i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bkey"),
            )
            for i in range(nb)
        ]
    )
    banded = sim.select(
        F.col(id_col).alias("_id"), "simhash", F.explode(chunks).alias("_c")
    ).select("_id", "simhash", F.col("_c.band").alias("_band"), F.col("_c.bkey").alias("_bkey"))
    left = banded.select(F.col("_id").alias("a"), F.col("simhash").alias("_ha"), "_band", "_bkey")
    right = banded.select(F.col("_id").alias("b"), F.col("simhash").alias("_hb"), "_band", "_bkey")
    # verify BEFORE the dedup exchange: the bit_count(xor) check is pure
    # map-side work, so the duplicated 8-byte hash columns never cross a
    # shuffle — only (a, b, hamming) does (hamming is identical for every
    # duplicate of a pair, so deduplicating after it is equivalent).
    return (
        left.join(right, ["_band", "_bkey"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .dropDuplicates(["a", "b"])
    )


def incremental_new_docs(corpus_fps: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Incremental-ingest dedup: rows of `new_docs` whose content
    fingerprint does not already exist in the corpus — the O(delta) step
    that keeps a 10^12-document corpus from being re-deduplicated per
    dump. One left_anti hash join on the fingerprint column(s); the corpus
    side carries ONLY fingerprints (16 B/row), never documents, so the
    build side stays broadcastable far longer than the corpus itself.

    Feed it a 128-bit fingerprint (full md5, or the fp64/fp64b pair from
    textops.fingerprint — pass both names) — a lone 64-bit fp silently
    drops ~27k genuinely-new documents per 10^12 at birthday rates."""
    cols = ["fp"] if isinstance("fp", str) else list("fp")
    return new_docs.join(
        corpus_fps.select(*cols).distinct(), cols, "left_anti"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    n: int = 3,
    threshold_e6: int = 800_000,
    prefix_filter: bool = True,
) -> DataFrame:
    """Directed near-CONTAINMENT pairs: (a, b) with
    |shingles_a ∩ shingles_b| / |shingles_a| ≥ threshold — the asymmetric
    cousin of Jaccard that catches quote-expansions and page-plus-chrome
    supersets (B contains nearly all of A, but B is much bigger so
    Jaccard stays low and ngram_jaccard_pairs never fires). EXACT.

    prefix_filter=True (the scale path): order A's shingles rarest-first
    (same global-frequency order as ngram_jaccard_pairs); if
    containment(A→B) ≥ c then the first |A| − ⌈c·|A|⌉ + 1 shingles of A
    must intersect B — so only A-PREFIX tokens enter the index, joined
    against B's full shingle list. The prefix length uses the integer
    ceiling (threshold_e6·|A| + 999999) div 1e6 — never under-length, so
    candidate generation is complete and the exact verify restores
    precision. Hot shingles drop out of A-prefixes; B-side postings are
    full-length but every candidate still needs a rare A-prefix hit.

    containment_e6 = common · 1e6 div |A| (integer-exact, portable).

    Output: (a, b, size_a, size_b, common, containment_e6), a ≠ b,
    directed (containment is not symmetric).
    """
    # sh feeds 4+ plan branches (freq, prefix index, both verify sides);
    # pin it so the shingle build and the upstream scan run ONCE, not
    # once per branch (measured 6x on the bench corpus)
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col("text"), n).alias("_sh"),
    ).withColumn("_size", F.size("_sh")).filter(F.col("_size") > 0)
    sh = sh.localCheckpoint(eager=False)

    if prefix_filter:
        ordered = _rarest_first(sh)
        pre_len = F.expr(
            f"size(_ord) - (({threshold_e6} * size(_ord) + 999999) "
            "div 1000000) + 1"
        ).cast("int")
        a_idx = ordered.select(
            F.col("_id").alias("a"),
            F.explode(F.slice("_ord", 1, pre_len)).alias("_g"),
        )
        b_idx = sh.select(
            F.col("_id").alias("b"), F.explode("_sh").alias("_g")
        )
        cand = (
            a_idx.join(b_idx, "_g")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
            .dropDuplicates(["a", "b"])
        )
    else:
        inv = sh.select("_id", F.explode("_sh").alias("_g"))
        cand = (
            inv.select(F.col("_id").alias("a"), "_g")
            .join(inv.select(F.col("_id").alias("b"), "_g"), "_g")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b")
            .dropDuplicates(["a", "b"])
        )
    sha = sh.select(F.col("_id").alias("a"), F.col("_sh").alias("_sha"),
                    F.col("_size").alias("size_a"))
    shb = sh.select(F.col("_id").alias("b"), F.col("_sh").alias("_shb"),
                    F.col("_size").alias("size_b"))
    return (
        cand.join(sha, "a")
        .join(shb, "b")
        .withColumn("common", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn(
            "containment_e6", F.expr("common * 1000000 div size_a")
        )
        .filter(F.col("containment_e6") >= threshold_e6)
        .select("a", "b", "size_a", "size_b", "common", "containment_e6")
    )


TITLE_LEN = 24  # chars of normalized text in the title key of both edit passes


def edit_near_dup(df: DataFrame, max_dist: int = 3, bucket: int = 8) -> DataFrame:
    """Edit-distance near-duplicate pairs over normalized title prefixes
    — the character-level complement to the token-set families (Jaccard
    shingles see reorderings, MinHash/SimHash see global similarity;
    Levenshtein sees TYPOS: one-off scrape variants, OCR noise,
    templated titles differing by a serial number).

    Title = the first TITLE_LEN chars of the text lowercased and
    stripped to [a-z0-9 ] — the ASCII normalization sidesteps
    engine-specific Unicode case folding so Spark's `levenshtein` and
    DuckDB's `levenshtein` (both classic char-DP) agree bit-for-bit.

    Blocking: candidates must share `lang` and land in the same or
    adjacent length bucket (len div `bucket`); since an edit script of
    cost ≤ d changes length by ≤ d, bucket ≥ max_dist+1 guarantees NO
    missed pair crosses more than one bucket boundary — this is exact,
    not approximate, recall. The scatter (off ∈ {0,1} on the LEFT side
    only, a < b tie-break inside the join) meets each unordered pair in
    exactly one bucket — no dedup exchange.

    Shape at 10^12 docs: never all-pairs. The frame collapses to
    (id, lang, title, len) — titles are ≤ TITLE_LEN bytes, so the
    shuffle payload is ids + short strings; the candidate join is a
    bucketed equi-join on (lang, bucket); Spark's levenshtein takes the
    threshold arg for early-exit DP. Hot blocks (one lang + one length
    dominating) salt like any hot equi-key. Quadratic cost is confined
    WITHIN a block; `bucket`/TITLE_LEN bound the block width.

    Output: (a, b, len_a, len_b, dist), a < b, dist ≤ max_dist.
    """
    if bucket < max_dist + 1:
        raise ValueError("bucket must be >= max_dist + 1 for exact recall")
    t = df.select(
        F.col("doc_id").alias("_id"),
        F.col("lang").alias("_lang"),
        F.regexp_replace(
            F.lower(F.substring(F.col("text"), 1, TITLE_LEN)),
            "[^a-z0-9 ]", "",
        ).alias("_title"),
    ).withColumn("_len", F.length("_title").cast("long")).withColumn(
        "_bk", F.expr(f"_len div {int(bucket)}")
    )
    left = None
    for off in (0, 1):
        o = t.select(
            F.col("_id").alias("_l"), F.col("_lang"),
            (F.col("_bk") + off).alias("_bk"),
            F.col("_title").alias("_tl"), F.col("_len").alias("_ll"),
            F.lit(off).alias("_off"),
        )
        left = o if left is None else left.unionByName(o)
    right = t.select(
        F.col("_id").alias("_r"), "_lang", "_bk",
        F.col("_title").alias("_tr"), F.col("_len").alias("_lr"),
    )
    return (
        left.join(right, ["_lang", "_bk"])
        # same-bucket pairs meet twice at off=0 (both orderings): keep
        # the _l < _r copy; cross-bucket pairs meet exactly once at
        # off=1 — keep unconditionally, normalize the ordering below
        .filter(
            ((F.col("_off") == 0) & (F.col("_l") < F.col("_r")))
            | ((F.col("_off") == 1) & (F.col("_l") != F.col("_r")))
        )
        .filter(F.abs(F.col("_ll") - F.col("_lr")) <= max_dist)
        .withColumn("dist", F.levenshtein("_tl", "_tr"))
        .filter(F.col("dist") <= max_dist)
        .select(
            F.least("_l", "_r").alias("a"),
            F.greatest("_l", "_r").alias("b"),
            F.when(F.col("_l") < F.col("_r"), F.col("_ll"))
            .otherwise(F.col("_lr")).alias("len_a"),
            F.when(F.col("_l") < F.col("_r"), F.col("_lr"))
            .otherwise(F.col("_ll")).alias("len_b"),
            "dist",
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-duplicate candidates: sort all
    normalized title keys once, compare each row against its next
    `window` successors in the GLOBAL sort order, keep Levenshtein
    ≤ max_dist. The third blocking strategy next to the band family
    (edit_near_dup's length buckets) and the sketch family (MinHash /
    SimHash): SNM finds typo-near keys that banding splits when the typo
    lands in the blocking field itself — the classic entity-resolution
    sliding window (Hernandez & Stolfo's merge/purge).

    Scale shape — NO single-partition window: a global row number over a
    string key is assembled the pack_sequences way,
      1. bucket = first key char (a pure, MONOTONE function of the key,
         so per-bucket order concatenates to the global order; ≤ 37
         buckets over the [a-z0-9 ] normalization — alphabet skew is the
         standard SNM caveat and stays bounded by corpus letter
         frequencies),
      2. row_number per bucket (parallel window),
      3. bucket totals (≤ 37 rows, metadata-scale collect) prefix-summed
         on the driver and broadcast back as base offsets,
    then candidates meet in one integer equi-join: the left side explodes
    to rn+1 .. rn+window (payload = id + ≤ TITLE_LEN-byte key), never an
    all-pairs theta join. Spark's and DuckDB's `levenshtein` are both the
    classic character DP on the ASCII-normalized key — bit-equal.

    Output: (id_a, id_b, key_a, key_b, gap, dist) with id_a preceding
    id_b in (key, id) order and 1 ≤ gap ≤ window.
    """
    t = df.select(
        F.col("doc_id").alias("_id"),
        F.regexp_replace(
            F.lower(F.substring(F.coalesce(F.col("text"), F.lit("")), 1, TITLE_LEN)),
            "[^a-z0-9 ]",
            "",
        ).alias("_key"),
    ).withColumn("_bk", F.substring("_key", 1, 1))
    w_in = Window.partitionBy("_bk").orderBy("_key", "_id")
    r = t.withColumn("_lrn", F.row_number().over(w_in).cast("long"))
    totals = r.groupBy("_bk").agg(F.count(F.lit(1)).alias("_n")).collect()
    base_rows, acc = [], 0
    for row in sorted(totals, key=lambda x: x["_bk"]):
        base_rows.append((row["_bk"], acc))
        acc += row["_n"]
    spark = df.sparkSession
    base = spark.createDataFrame(base_rows or [("", 0)], "_bk string, _base long")
    g = r.join(F.broadcast(base), "_bk").select(
        "_id", "_key", (F.col("_base") + F.col("_lrn")).alias("_rn")
    )
    offs = F.explode(F.array(*[F.lit(i) for i in range(1, window + 1)]))
    left = g.select(
        F.col("_id").alias("id_a"), F.col("_key").alias("key_a"),
        F.col("_rn"), offs.alias("_gap"),
    ).withColumn("_rn2", F.col("_rn") + F.col("_gap"))
    right = g.select(
        F.col("_id").alias("id_b"), F.col("_key").alias("key_b"),
        F.col("_rn").alias("_rn2"),
    )
    return (
        left.join(right, "_rn2")
        .withColumn("dist", F.levenshtein("key_a", "key_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select(
            "id_a", "id_b", "key_a", "key_b",
            F.col("_gap").cast("long").alias("gap"), "dist",
        )
    )


# --- Fellegi–Sunter record linkage ------------------------------------------------


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    fields: list[tuple[str, str, int, int, int]],
    upper: int,
    lower: int,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage with blocking — the
    entity-resolution complement of the dedup family: instead of "are these
    two documents the same text", "do these two RECORDS describe the same
    real-world entity" (two crawls of a business directory, two address
    registries), decided per-field with agreement weights.

    ``fields`` is a list of ``(left_col, right_col, max_dist, m_weight,
    u_weight)``: a field AGREES when ``levenshtein(l, r) <= max_dist``
    (``max_dist=0`` is exact match; Spark's and DuckDB's levenshtein are
    the same classic DP — proven bit-equal by edit_near_dup / snm_pairs).
    Agreement contributes ``m_weight``, disagreement ``u_weight`` — integer
    log-likelihood ratios ×1000 in the classic formulation, supplied as
    constants (a learned EM fit would produce floats; fixed integer weights
    keep the score a pure BIGINT and the decision engine-exact). NULL on
    either side counts as disagreement (the conservative convention).

    ``score = Σ (agree ? m : u)``; decision: ``score >= upper`` → 'match',
    ``score <= lower`` → 'non_match', else 'possible' (the clerical-review
    band of the original paper).

    Scale shape at 10^9 × 10^9 records: candidates come from an EQUI-join
    on the blocking key(s) — never an all-pairs theta join; the comparison
    vector is pure Column codegen over the candidate set; skewed blocks
    (one city = half the corpus) split under AQE, and a second pass with an
    alternative blocking key unions in recall the first key misses (the
    standard multi-pass blocking discipline — compose by calling twice and
    unioning on (id_l, id_r)).

    Output: (id_l, id_r, score, decision) — one row per candidate pair.
    """
    lsel = [F.col("id_l")] + [F.col(c) for c in block_cols]
    lsel += [F.col(lc) for lc, _, _, _, _ in fields]
    l = left.select(*lsel)
    r = right.select(
        F.col("id_r"),
        *[F.col(c) for c in block_cols],
        *[F.col(rc).alias(f"_r_{rc}") for _, rc, _, _, _ in fields],
    )
    cand = l.join(r, block_cols)

    score = F.lit(0).cast("long")
    for lc, rc, max_dist, m_w, u_w in fields:
        lv, rv = F.col(lc), F.col(f"_r_{rc}")
        agree = (
            lv.isNotNull()
            & rv.isNotNull()
            & (F.levenshtein(lv, rv) <= F.lit(max_dist))
        )
        score = score + F.when(agree, F.lit(m_w)).otherwise(F.lit(u_w)).cast("long")

    return cand.select(
        F.col("id_l"),
        F.col("id_r"),
        score.alias("score"),
        F.when(score >= F.lit(upper), F.lit("match"))
        .when(score <= F.lit(lower), F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    )


def golden_records(
    df: DataFrame,
    id_col: str,
    match_pairs: DataFrame,
    attr_cols: list[str],
) -> DataFrame:
    """Golden-record survivorship — the master-data step AFTER
    record_linkage: matched pairs merge into entity clusters (connected
    components over the match graph; unmatched records stay singleton
    clusters), and each cluster publishes ONE canonical row per
    attribute by majority vote — the most frequent non-NULL value wins,
    ties break toward the smallest value, so the golden row is a pure
    function of the input (re-run / re-partition / cross-engine stable).

    Shape at 10^9 records: the cluster labeling is `graph.
    connected_components` (pointer-doubling, component-sized work);
    singletons join in via ONE left join on the id; each attribute's
    vote is a combinable groupBy(cluster, value) count + a struct-MIN
    argmax — never a window over the full record set — and the |attrs|
    slim vote frames join back on the cluster key. Match graphs are
    near-forests (clusters of duplicate records are small), so every
    join key is well-distributed; a pathological mega-cluster is a data
    bug the n_members column surfaces immediately.

    Output: (cluster_id = min member id, n_members, *attr_cols).
    """
    ids = df.select(F.col(id_col).alias("_id"))
    cc = connected_components(
        match_pairs.select(F.col("id_l").alias("a"), F.col("id_r").alias("b"))
    )
    labeled = (
        ids.join(cc.withColumnRenamed("id", "_id"), "_id", "left")
        .select("_id", F.coalesce("rep", "_id").alias("cluster_id"))
    )
    base = df.join(labeled, df[id_col] == labeled["_id"]).drop("_id")
    out = base.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    for a in attr_cols:
        votes = (
            base.filter(F.col(a).isNotNull())
            .groupBy("cluster_id", a)
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("cluster_id")
            .agg(F.min(F.struct((-F.col("_c")).alias("nc"), F.col(a).alias("v"))).alias("_b"))
            .select("cluster_id", F.col("_b.v").alias(a))
        )
        out = out.join(votes, "cluster_id", "left")
    return out


def blocking_quality(
    candidates: DataFrame,
    gold: DataFrame,
    n_left: int,
    n_right: int,
) -> DataFrame:
    """Blocking-strategy evaluation (the record-linkage literature's
    standard triple): a blocking pass (nationkey equi-join, soundex,
    SNM, cell disks …) is judged by

      reduction_ratio    1 − |candidates| / (n_left·n_right) — how much
                         of the quadratic comparison space it removed
      pair_completeness  |candidates ∩ gold| / |gold| — recall of true
                         matches into the candidate set
      pair_quality       |candidates ∩ gold| / |candidates| — precision
                         of the candidate set

    A good blocker has RR ≈ 1 AND PC ≈ 1; either alone is trivial.
    Exact integer surface: counts + e6 floor ratios (one div each);
    the candidate∩gold hit count is ONE equi-join on the pair key.
    Duplicate candidate/gold pairs are deduped first (a blocker that
    emits a pair twice shouldn't double-count).

    Output: one row (n_cand, n_gold, n_hit, rr_e6, pc_e6, pq_e6).
    """
    c = candidates.select("id_l", "id_r").distinct()
    g = gold.select("id_l", "id_r").distinct()
    hit = c.join(g, ["id_l", "id_r"], "left_semi")
    stats_df = c.agg(F.count(F.lit(1)).alias("n_cand")).crossJoin(
        g.agg(F.count(F.lit(1)).alias("n_gold"))
    ).crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    total = n_left * n_right
    return stats_df.select(
        "n_cand", "n_gold", "n_hit",
        F.expr(f"(({total} - n_cand) * 1000000) div {total}").alias("rr_e6"),
        F.when(F.col("n_gold") > 0,
               F.expr("(n_hit * 1000000) div n_gold")).alias("pc_e6"),
        F.when(F.col("n_cand") > 0,
               F.expr("(n_hit * 1000000) div n_cand")).alias("pq_e6"),
    )
