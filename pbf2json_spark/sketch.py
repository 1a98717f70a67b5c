"""Count-min sketch: a fixed-size frequency summary for heavy-hitter
estimation at corpus scale.

Why a sketch when `groupBy(key).count()` is exact: at 10^12 rows the exact
count table is itself data-sized (one row per distinct key — for tokens,
billions), while a CMS is O(depth x width) REGARDLESS of cardinality,
combines across partitions by plain cell-wise addition, and answers point queries with a one-sided error bound (estimate >= truth;
overcount <= 2N/width with probability 1 - 2^-depth). It is the standard
building block for "is this n-gram frequent enough to matter" pre-filters
in dedup/quality pipelines where the exact vocabulary table would dwarf
the data.

Portability: the row hashes are md5-derived (first 8 hex digits ->
32-bit int, seeded by the row index), so any engine reproduces the SAME
sketch cell-for-cell — Spark builds it, DuckDB verifies it bit-exactly
(same idiom as dedup.minhash_signature_portable). All arithmetic is
integer: the oracle comparison is exact, never float-lucky.

Shapes at 10^12 rows:
  * cms_build — one explode by depth (a small constant, default 4) then
    ONE map-side-combinable groupBy on (row, bucket): the exchange carries
    at most depth x width partial cells PER MAP TASK, not the token
    volume. Output <= depth x width rows — metadata-scale.
  * cms_estimate — the queried keys join the sketch on (row, bucket)
    (broadcast: the sketch is tiny by construction) and take min over the
    depth rows. Keys the sketch never saw estimate 0 via the left join's
    coalesce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(key: Column, row: int, width: int) -> Column:
    """Row-seeded portable bucket: first 32 bits of md5("<row>:" + key)
    mod width. DuckDB mirror: ('0x' || substr(md5(row || ':' || key),
    1, 8))::BIGINT % width."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{row}:"), key).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return h % width


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch table (row, bucket, cnt) from a key column
    (optionally weighted). Cells that no key hashes into are absent
    (implicitly 0) — estimates coalesce them."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    k = F.col(key_col)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"), cms_bucket(k, i, width).alias("bucket")
                )
                for i in range(depth)
            ]
        )
    ).alias("rb")
    return (
        df.select(rb, w.alias("_w"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for every row of `keys`: min over the
    depth counters each key hashes to (the CMS upper bound). Output:
    (key_col, est)."""
    k = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        cms_bucket(k, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    ).select(key_col, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left").withColumn(
        "_c", F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
    )
    return joined.groupBy(key_col).agg(F.min("_c").alias("est"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------
#
# Why a sketch when countDistinct is exact: the exact distinct of a
# 10^12-row key column is a data-sized shuffle (every distinct key crosses
# the wire); Spark's own approx_count_distinct (HyperLogLog++) avoids that
# but its hash is JVM-private — no other engine can reproduce the estimate,
# so it can't be value-checked. KMV keeps the k smallest 60-bit md5-derived
# key hashes per group: O(k) state, mergeable by union+re-thin, and — like
# cms_* above — every cell is reproducible in DuckDB, so the oracle
# comparison is exact (the estimator is ONE double multiply + ONE divide of
# exactly-representable integers; no float aggregation anywhere).
#
# Estimator: with n >= k distinct keys, the k-th smallest of n uniform
# hashes sits at ~ k/(n+1) of the [0, 2^60) span, so
# est = (k-1) * 2^60 / h_k (the standard KMV/bottom-k estimator,
# Bar-Yossef et al. 2002); with fewer than k hashes the sketch holds the
# whole distinct set and the count is exact.
#
# Shape at 10^12 rows: distinct (group, hash) is ONE map-side-combinable
# exchange (8-byte hashes, not keys); the per-group bottom-k reuses
# ranking.top_k_per_group (salted pre-thin available for degenerate hot
# groups); estimates are computed on the k-row-per-group sketch —
# metadata-scale.

_KMV_SPAN = 1 << 60


def kmv_hash(key: Column, seed: int = 0) -> Column:
    """60-bit portable key hash: first 15 hex digits of md5(key ':' seed).
    60 bits keeps the value positive in an int64 in any engine and makes
    the collision rate negligible for estimation (p ~ n^2 / 2^61)."""
    s = F.concat(key.cast("string"), F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Build the per-group KMV sketch: the k smallest distinct key hashes.

    Output: group_cols + (h:long, rank_in_group:int), <= k rows per group.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from .ranking import top_k_per_group

    gs = list(group_cols or [])
    base = df.select(
        *[F.col(c) for c in gs], kmv_hash(F.col(key_col)).alias("h")
    ).distinct()
    if gs:
        return top_k_per_group(base, gs, [F.col("h").asc()], k)
    # global sketch: TakeOrdered (k rows through the final merge, no
    # global sort materialized)
    out = base.orderBy("h").limit(k)
    from pyspark.sql.window import Window

    w = Window.orderBy("h")  # <= k rows by construction — not a scale risk
    return out.withColumn("rank_in_group", F.row_number().over(w))


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group distinct estimate from a kmv_build sketch.

    Output: group_cols + (n_hashes:long, kth_hash:long, est_distinct:
    double). n_hashes < k → the sketch saw every distinct key and the
    estimate IS the exact count; otherwise the bottom-k estimator. The
    float path is a fixed two-op tree ((k-1)·2^60 then ÷ h_k, both
    exact-rounded) — bit-identical in any IEEE engine."""
    gs = list(group_cols or [])
    agg = sketch.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("n_hashes") < k, F.col("n_hashes").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(float(_KMV_SPAN)))
        / F.col("kth_hash").cast("double")
    )
    return agg.withColumn("est_distinct", est)


# --- Bloom filter (portable, mergeable) ----------------------------------------


def bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """The k bit positions of `key` in an m_bits Bloom filter as an
    array<long> — double hashing (Kirsch–Mitzenmacher: pos_i = (h1 +
    i·h2) mod m), both hashes from the portable 60-bit md5 idiom
    (kmv_hash seeds 0 and 1), so any engine that can md5
    computes the identical positions."""
    if not 1 <= k <= 7:
        # h1 + (k-1)*h2 with 60-bit hashes: k <= 7 keeps the sum < 2^63
        # (no int64 overflow in EITHER engine); larger k wants re-seeding
        raise ValueError("k must be in [1, 7]")
    h1, h2 = kmv_hash(key, 0), kmv_hash(key, 1)
    return F.array(
        *[((h1 + F.lit(i) * h2) % m_bits).alias(f"p{i}") for i in range(k)]
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Per-group Bloom filter as (word_idx, word) rows: bit b lives in
    64-bit word b div 64 at bit b mod 64, OR-merged with one
    map-side-combinable bit_or aggregate. The fast-NEGATIVE membership
    primitive the incremental-ingest path wants at 100 TB: yesterday's
    10^12-key corpus compresses to m_bits/8 bytes (vs the full
    fingerprint table), today's delta probes it scan-side, and only the
    maybe-present minority pays the exact anti-join. False-positive rate
    ≈ (1 - e^(-k·n/m))^k; false negatives impossible (probe law tested).

    Only occupied words are stored (missing word ⟺ all-zero), so a
    sparse filter stays small.

    Output: group_cols + (word_idx long, word long).
    """
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    gs = list(group_cols or [])
    pos = df.select(
        *[F.col(c) for c in gs],
        F.explode(bloom_positions(F.col(key_col), m_bits, k)).alias("_b"),
    )
    words = pos.select(
        *gs,
        (F.col("_b") / 64).cast("long").alias("word_idx"),
        (F.col("_b") % 64).cast("int").alias("_bit"),
    ).withColumn("_w", F.expr("shiftleft(CAST(1 AS BIGINT), _bit)"))
    return words.groupBy(*gs, "word_idx").agg(F.bit_or("_w").alias("word"))


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Probe keys against a bloom_build output: `maybe_present` is true
    iff ALL k bits are set. One explode + one equi-join on (group,
    word_idx) + one all-bits groupBy — the probe payload is (key, k
    word indexes), never the filter itself; a missing word row means the
    bit is 0 (the anti-fill default)."""
    gs = list(group_cols or [])
    pos = df.select(
        *[F.col(c) for c in gs],
        F.col(key_col).alias("_key"),
        F.posexplode(bloom_positions(F.col(key_col), m_bits, k)).alias(
            "_j", "_b"
        ),
    ).select(
        *gs, "_key", "_j",
        (F.col("_b") / 64).cast("long").alias("word_idx"),
        (F.col("_b") % 64).cast("int").alias("_bit"),
    )
    j = pos.join(bloom, [*gs, "word_idx"], "left")
    hit = (
        F.coalesce(F.col("word"), F.lit(0).cast("long")).bitwiseAND(
            F.expr("shiftleft(CAST(1 AS BIGINT), _bit)")
        )
        != 0
    )
    return (
        j.withColumn("_hit", hit.cast("int"))
        .groupBy(*gs, F.col("_key").alias(key_col))
        .agg((F.min("_hit") == 1).alias("maybe_present"))
    )


# --- HyperLogLog (portable, mergeable) ------------------------------------------


def _hll_alpha(m: int) -> float:
    """Standard HLL bias constant (Flajolet et al. 2007, §4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_rank_cols(key: Column, p: int, seed: int = 0) -> tuple[Column, Column]:
    """(register index, rank) of a key for a 2^p-register HLL: the
    portable 60-bit md5 hash (kmv_hash) splits into the top p bits
    (index) and the remaining q = 60-p bits w; rank = leading zeros of w
    within q bits + 1 = q - bitlength(w) + 1, computed EXACTLY via
    length(bin(w)) — integer/string ops only, no log2 float edge cases.
    DuckDB mirrors every op (bin() exists in both engines)."""
    q = 60 - p
    h = kmv_hash(key, seed)
    idx = F.shiftright(h, q)
    w = h.bitwiseAND(F.lit((1 << q) - 1))
    rank = F.when(w == 0, F.lit(q + 1)).otherwise(
        F.lit(q + 1) - F.length(F.bin(w))
    )
    return idx.cast("int").alias("reg_idx"), rank.cast("int").alias("rank")


def hll_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog sketch as (reg_idx, r) rows — r = max rank
    seen in that register. The fixed-size distinct-count summary at
    10^12 rows: where kmv_build keeps k raw hashes (estimate error
    ~1/sqrt(k)), HLL is a FIXED 2^p-register array with error
    1.04/sqrt(2^p) (p=8 → 6.5% from 256 registers) whose partial
    registers combine by a plain element-wise max — associative,
    commutative, idempotent, so partitions combine in any order.

    One map-side-combinable groupBy on (group, reg_idx): the exchange
    carries at most 2^p partial registers per map task, never the key
    volume. Output ≤ 2^p rows per group — metadata-scale. Absent
    registers mean rank 0 (the estimator refills them).

    Portability: md5-derived hash and integer/string ops only — DuckDB
    rebuilds the register table bit-for-bit (the minhash_portable/
    cms_tokens idiom)."""
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    gs = list(group_cols or [])
    idx, rank = hll_rank_cols(F.col(key_col), p, 0)
    return (
        df.select(*[F.col(c) for c in gs], idx, rank)
        .groupBy(*gs, "reg_idx")
        .agg(F.max("rank").alias("r"))
    )


def hll_estimate(
    sketch: DataFrame, p: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group distinct estimate from an hll_build register table.
    The raw-estimate float path is ONE division: the harmonic sum
    Z = Σ 2^-r is kept as an EXACT integer by scaling with 2^(q+1)
    (ranks are ≤ q+1, so every term 2^(q+1-r) is integral; absent
    registers contribute the full 2^(q+1)); Σ fits int64 for p ≥ 4.
    est_raw = alpha·m²·2^(q+1) / z_scaled is then a literal over a cast
    — bit-identical in any IEEE engine regardless of register order
    (the kmv_estimate exactness idiom). `est` applies the standard
    small-range linear-counting correction m·ln(m/V) when zero
    registers remain and est_raw ≤ 2.5m — ln is transcendental, so
    cross-engine bit-equality is NOT guaranteed for corrected groups;
    exact-oracle queries should compare (n_regs, n_zero, z_scaled,
    est_raw) and treat est as advisory.

    Output: group_cols + (n_regs, n_zero, z_scaled, est_raw, est)."""
    m = 1 << p
    q = 60 - p
    s = 1 << (q + 1)
    gs = list(group_cols or [])
    agg = sketch.groupBy(*gs).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {q + 1} - r)")).alias("_zp"),
    )
    agg = agg.withColumn("n_zero", F.lit(m).cast("long") - F.col("n_regs"))
    agg = agg.withColumn(
        "z_scaled", F.col("_zp") + F.col("n_zero") * F.lit(s).cast("long")
    ).drop("_zp")
    c = _hll_alpha(m) * float(m) * float(m) * float(s)
    est_raw = F.lit(c) / F.col("z_scaled").cast("double")
    agg = agg.withColumn("est_raw", est_raw)
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero").cast("double"))
    return agg.withColumn(
        "est",
        F.when((F.col("n_zero") > 0) & (F.col("est_raw") <= 2.5 * m), lc)
        .otherwise(F.col("est_raw")),
    )


def hll_rolling(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    window: int,
    p: int = 8,
) -> DataFrame:
    """Trailing-window distinct estimate per time bucket — the DAU/WAU
    metric computed the way a 10^12-row corpus must: build ONE register
    table per bucket (hll_build keyed by the bucket), then roll it
    forward by exploding each bucket's registers into the `window`
    buckets they contribute to and max-merging — the HLL monoid applied
    as sketch algebra. The raw keys are touched exactly once; every
    window after that is register arithmetic (≤ 2^p rows per bucket),
    where the exact computation would re-scan `window` days of keys per
    output day.

    Buckets are integers (e.g. epoch days); output rows are restricted
    to buckets that exist in the data (a trailing window over a gap
    still sees the earlier bucket's keys — standard trailing semantics).

    Output: (bucket, n_regs, n_zero, z_scaled, est_raw, est) — see
    hll_estimate for the exact-integer z_scaled / one-division est_raw
    portability contract.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    daily = hll_build(df, key_col, [bucket_col], p=p)
    targets = daily.select(
        F.explode(
            F.sequence(F.col(bucket_col), F.col(bucket_col) + (window - 1))
        ).alias(bucket_col),
        "reg_idx",
        "r",
    )
    merged = targets.groupBy(bucket_col, "reg_idx").agg(F.max("r").alias("r"))
    observed = df.select(bucket_col).distinct()
    est = hll_estimate(
        merged.join(observed, bucket_col, "left_semi"), p=p,
        group_cols=[bucket_col],
    )
    return est


def kmv_intersect(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int,
) -> DataFrame:
    """Set-operation estimates from two KMV sketches — the theta-sketch
    composition (Dasgupta et al.): thin the UNION of both hash sets back
    to its k smallest, take θ = the largest retained hash, and count how
    many below-θ hashes appear in BOTH inputs. Then
    |A∪B| ≈ (k−1)·2^60/θ and |A∩B| ≈ (common/k)·|A∪B| — Jaccard falls
    out as common/k. The cross-dump overlap question ("how many of
    today's documents did yesterday already have") answered from two
    METADATA-SIZED sketches, no re-scan of either corpus.

    All set arithmetic is on exact integer hashes (the kmv_build
    md5-60-bit idiom); est_union is the kmv_estimate two-op float tree
    and est_intersect adds one multiply and one divide of exact-rounded
    doubles — bit-identical cross-engine.

    Degenerate exactness: when the union sketch holds fewer than k
    hashes the sketches saw EVERYTHING — counts are exact, θ plays no
    role (the kmv_estimate n<k branch).

    Output: (n_union, theta, n_common long, est_union, est_intersect,
    jaccard_est double).
    """
    a = sketch_a.select(F.col("h").alias("_ha")).distinct()
    b = sketch_b.select(F.col("h").alias("_hb")).distinct()
    u = a.select(F.col("_ha").alias("h")).unionByName(
        b.select(F.col("_hb").alias("h"))
    ).distinct()
    uk = u.orderBy("h").limit(k)
    both = (
        uk.join(a.withColumnRenamed("_ha", "h"), ["h"], "left_semi")
        .join(b.withColumnRenamed("_hb", "h"), ["h"], "left_semi")
    )
    stats_u = uk.agg(F.count(F.lit(1)).alias("n_union"), F.max("h").alias("theta"))
    stats_c = both.agg(F.count(F.lit(1)).alias("n_common"))
    j = stats_u.crossJoin(stats_c).withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0))
    )
    est_union = F.when(
        F.col("n_union") < k, F.col("n_union").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)) * F.lit(float(_KMV_SPAN)))
        / F.col("theta").cast("double")
    )
    j = j.withColumn("est_union", est_union)
    frac = F.col("n_common").cast("double") / F.least(
        F.col("n_union").cast("double"), F.lit(float(k))
    )
    return j.select(
        "n_union", "theta", "n_common", "est_union",
        (frac * F.col("est_union")).alias("est_intersect"),
        frac.alias("jaccard_est"),
    )
