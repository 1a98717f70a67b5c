"""Deterministic sampling for training-data curation.

`df.sample()` is partition-dependent (a repartition or a re-run with a
different split layout changes WHICH rows are kept). At 10^12 rows a
curation pipeline needs sampling that is a pure function of the ROW — so
the sample is reproducible across re-runs, resumable mid-job, and
consistent between a backfill and an incremental run that sees the same
row again.

Mechanism: u32(row) = first 8 hex chars of md5(id [+ salt]) as an integer
uniform in [0, 2^32); keep the row iff u32 < floor(fraction * 2^32).
md5 is available and identical in Spark and DuckDB, so the driver oracle
re-derives the exact sample membership (no float comparison anywhere —
the threshold compare is integer).

No shuffle: stratified_sample is a pure Column filter whose thresholds
compile to a CASE over the stratum column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_U32_SPAN = 1 << 32


def _u32(key: Column, seed: int) -> Column:
    """Deterministic uniform u32 from a row key: first 32 bits of
    md5(key || ':' || seed), portable across engines."""
    s = F.concat(key.cast("string"), F.lit(f":{seed}"))
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the language/domain rebalancing
    step of a training-data mix. `fractions` maps stratum value → keep
    fraction; strata not listed keep `default_fraction` (0 = drop).

    Same u32-threshold mechanism; thresholds become one CASE expression, so
    the whole operator is a scan-level filter (predicate-pushdown friendly,
    zero shuffle, trivially parallel at any cluster size).
    """
    thr = F.lit(int(default_fraction * _U32_SPAN))
    expr = None
    for value, frac in fractions.items():
        cond = F.col(stratum_col) == value
        t = F.lit(int(frac * _U32_SPAN))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = expr.otherwise(thr) if expr is not None else thr
    return df.filter(_u32(F.col(id_col), seed) < thr)


def resample_mixture(
    df: DataFrame,
    weights: dict[str, float],
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic mixture resampling — the "mix webtext 60%, wiki x2,
    code x1.5" step that turns a curated corpus into a training mix.
    `weights` maps stratum value → repeat factor w >= 0: every row is
    emitted floor(w) times plus one more iff u32(row) < frac(w)·2^32, so
    E[copies] = w exactly, per-row multiplicity is a pure function of the
    row (reproducible across re-runs/partitionings/engines), and w < 1 is
    plain deterministic downsampling (same membership rule as
    stratified_sample). Strata not listed get `default_weight`.

    Output: the input columns + ``copy`` (0-based repeat index — so
    downstream shuffles can spread copies and an exact de-resample is
    ``filter(copy = 0)``).

    Shape at 10^12 rows: the copy count is a CASE expression + one integer
    hash compare, the duplication is explode(sequence()) — scan-stage,
    ZERO shuffle, explode factor bounded by max(w)+1. No driver state.
    """
    if any(w < 0 for w in weights.values()) or default_weight < 0:
        raise ValueError("weights must be >= 0")

    def _parts(w: float) -> tuple[int, int]:
        base = int(w)
        return base, int((w - base) * _U32_SPAN)

    db, dt = _parts(default_weight)
    base_e, thr_e = None, None
    for value, w in weights.items():
        b, t = _parts(w)
        cond = F.col("lang") == value
        base_e = (
            F.when(cond, b) if base_e is None else base_e.when(cond, b)
        )
        thr_e = F.when(cond, t) if thr_e is None else thr_e.when(cond, t)
    base_c = base_e.otherwise(db) if base_e is not None else F.lit(db)
    thr_c = thr_e.otherwise(dt) if thr_e is not None else F.lit(dt)
    copies = (
        base_c.cast("int")
        + (_u32(F.col("doc_id"), 0) < thr_c).cast("int")
    )
    return (
        df.withColumn("_copies", copies)
        .filter(F.col("_copies") > 0)
        .withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.col("_copies") - 1))
        )
        .drop("_copies")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    stratum_col: str = "lang",
) -> DataFrame:
    """Weighted Bernoulli sampling with expected size k per stratum —
    "pick ~k docs per language, longer docs proportionally more likely",
    the importance-weighted cousin of stratified_sample.

    Row r in stratum s is kept iff
        u32(r) < (k << 32) * w_r  div  sum_w(s)
    i.e. with probability min(1, k * w_r / sum_w(s)); E[kept per stratum]
    = k when no single weight exceeds sum_w / k. EVERY comparison is
    int64 (one multiply, one truncating div, one compare) — no float, no
    transcendental, so membership is bit-identical in any engine and a
    pure function of the row + the stratum total (Spark `div` and DuckDB
    `//` agree on non-negative operands).

    Overflow budget: (k << 32) * w needs k * w < 2^31 (raise k or scale
    weights down past that); u32 * sum_w is NOT computed (the div form
    keeps the big product on the constant side).

    Shape at 10^12 rows: one map-side-combinable groupBy for the stratum
    totals (|strata| rows), broadcast back, then a pure Column filter —
    no row-level shuffle of the data itself.

    Output: the input columns + ``w_used`` (the weight that priced the
    row in).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.col(weight_col).cast("long")
    totals = df.groupBy(stratum_col).agg(F.sum(w).alias("_sum_w"))
    thr = F.expr(
        f"(CAST({k} AS BIGINT) * {_U32_SPAN} * CAST({weight_col} AS BIGINT))"
        " div _sum_w"
    )
    return (
        df.join(F.broadcast(totals), stratum_col)
        .filter(_u32(F.col("doc_id"), 0) < thr)
        .withColumn("w_used", w)
        .drop("_sum_w")
    )


def spatial_thin(df: DataFrame, res: int, k: int) -> DataFrame:
    """Spatial thinning: keep at most `k` rows per grid cell, chosen by
    the deterministic md5-u32 rank (ties broken by id) — the density
    equalizer for map rendering and geo-balanced training sets: a city
    with 10^6 POIs and a desert with 3 both contribute ≤ k, and the
    survivors are a uniform random-looking but reproducible subsample.

    Mechanism: rank rows within each cell by (u32(id:0), id) and keep
    rank ≤ k. Unlike the threshold samplers above this IS a per-cell
    window — an exact quota cannot be a pure filter — but the window
    partitions on the cell key: ONE shuffle of (id, cell, u32) slim
    rows, dense-cell tasks bounded by the cell's row count (salt-free;
    a 10^8-row megacity cell is the worst single task and still
    sort-bounded; pre-filter with stratified_sample when cells exceed
    task memory).

    Output: input columns + (cell, thin_rank), thin_rank in 1..k.
    """
    from . import cells as _cells

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    cell = (x * (1 << res) + y).cast("long")
    withc = df.withColumn("cell", cell).withColumn(
        "_u", _u32(F.col("doc_id"), 0)
    )
    w = Window.partitionBy("cell").orderBy(F.col("_u"), F.col("doc_id"))
    return (
        withc.withColumn("thin_rank", F.row_number().over(w))
        .filter(F.col("thin_rank") <= k)
        .drop("_u")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
) -> DataFrame:
    """Deterministic three-way corpus split — the train/val/test
    assignment every pretraining pipeline needs, as a pure row-local
    scan filter (zero shuffle, partition-independent, reproducible across
    reruns AND engines): u32 = md5(id ':' 0); split by two integer
    thresholds t1 = floor(w_train·2^32), t2 = t1 + floor(w_val·2^32).

    Keying on the document ID (not position) means re-shards, re-sorts,
    and incremental ingests never move a document between splits — the
    leak-proofing property (a doc that was ever in test stays in test).
    Exactly one label per row (total CASE); expected proportions follow
    the weights, exact proportions are binomial around them.

    Output: input + `split` ∈ {'train','val','test'}.
    """
    w1, w2, w3 = weights
    if min(w1, w2, w3) < 0 or abs(w1 + w2 + w3 - 1.0) > 1e-9:
        raise ValueError("weights must be non-negative and sum to 1")
    t1 = int(w1 * _U32_SPAN)
    t2 = t1 + int(w2 * _U32_SPAN)
    h = _u32(F.col(id_col), 0)
    return df.withColumn(
        "split",
        F.when(h < t1, F.lit("train"))
        .when(h < t2, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def negative_pairs(df: DataFrame, k: int, group_col: str | None = None) -> DataFrame:
    """Deterministic contrastive negative sampling: for every anchor row,
    up to `k` pseudo-random OTHER rows (optionally required to come from
    a different `group_col` — the anchor's dedup cluster / positive set).
    The pair-generation primitive contrastive/embedding training needs at
    corpus scale, built so a re-run, a re-partition, or another engine
    reproduces the SAME pairs (md5-derived candidate indices — no RNG
    state, the stratified_sample discipline).

    Shape at 10^12 rows: sampling by index needs a bijection id → [0, N).
    A single global row_number is a one-partition sort — instead the
    index is the two-phase BUCKET-OFFSET form: bucket = id mod B (B = 64), rank
    within bucket (ordered by id, a B-way parallel window), plus the
    bucket's cumulative offset from a B-row driver-side census (bounded
    metadata collect). Any bijection serves sampling; this one is
    engine-reproducible. Candidates = hash(anchor, slot) mod N → index
    equi-join; self/same-group candidates are filtered and the first k
    surviving slots kept (4 extra slots absorb the filtered ones —
    an anchor can emit < k pairs when unlucky; deterministic either way).

    Output: (anchor id, neg id, slot long — 1-based surviving order).
    """
    from .sketch import kmv_hash

    if k < 1:
        raise ValueError("k must be >= 1")
    gs = [group_col] if group_col else []
    base = df.select(F.col("doc_id"), *[F.col(c) for c in gs])
    bucket = F.col("doc_id") % 64
    buckets = (
        base.groupBy(bucket.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy("_b")
        .collect()
    )
    n_total = sum(r["_c"] for r in buckets)
    offsets = {}
    acc = 0
    for r in buckets:
        offsets[r["_b"]] = acc
        acc += r["_c"]
    off_map = F.create_map(
        *[F.lit(x) for b, o in sorted(offsets.items()) for x in (b, o)]
    )
    w = Window.partitionBy(bucket).orderBy("doc_id")
    indexed = base.withColumn(
        "_idx",
        off_map[bucket] + F.row_number().over(w) - 1,
    )
    m = k + 4
    cand = indexed.select(
        F.col("doc_id").alias("_a"),
        *[F.col(c).alias(f"_ag_{c}") for c in gs],
        F.explode(F.array(*[F.lit(j) for j in range(m)])).alias("_j"),
    ).withColumn(
        "_cidx",
        kmv_hash(
            F.concat(F.col("_a").cast("string"), F.lit(":"), F.col("_j").cast("string"))
        )
        % n_total,
    )
    joined = cand.join(
        indexed.select(
            F.col("_idx").alias("_cidx"),
            F.col("doc_id").alias("_neg"),
            *[F.col(c).alias(f"_ng_{c}") for c in gs],
        ),
        "_cidx",
    )
    valid = joined.filter(F.col("_neg") != F.col("_a"))
    for c in gs:
        valid = valid.filter(
            ~F.col(f"_ag_{c}").eqNullSafe(F.col(f"_ng_{c}"))
        )
    ws = Window.partitionBy("_a").orderBy("_j")
    return (
        valid.withColumn("slot", F.row_number().over(ws))
        .filter(F.col("slot") <= k)
        .select(
            F.col("_a").alias("doc_id"),
            F.col("_neg").alias("neg_id"),
            F.col("slot").cast("long").alias("slot"),
        )
    )


def ipf_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    rounds: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking) to UNIFORM margins: the
    dataset-mixture balancing step of a corpus release — reweight the
    (row, col) contingency table (e.g. lang × source) so that, under the
    weights, every row category and every column category carries an
    equal share, while cell interactions stay as observed (the classic
    survey-statistics rake, Deming & Stephan 1940).

    ALL-INTEGER discipline: weights live as scaled integers (start at
    10⁶), each half-round rescales by the target/current margin
    ratio via exact floor-division (the double-mod floor idiom) —
    deterministic, order-free (margins are INTEGER sums), bit-exact in
    any engine, and convergent to the float fixpoint within ~1e-6
    relative (quantization only stops improving below the grain of
    10⁶, which is far past any practical raking tolerance).
    Fixed ``rounds`` (not a fixpoint test) keeps the unrolled oracle
    exact.

    Shape at 10^12 rows: ONE combinable groupBy builds the contingency
    table (|rows|×|cols| cells — metadata scale for categorical
    dimensions); each half-round is a margin groupBy + a broadcast-size
    join ON THE CELL TABLE, never touching the base rows again; apply
    the final weights back with one broadcast join keyed (row, col).

    Targets: uniform — target_row = total·10⁶ div n_rows (etc.) in the
    same scaled units. (Arbitrary target vectors would be a dict
    argument compiled to a literal CASE; uniform is the common corpus-
    balancing case and keeps the gate surface closed-form.)

    Output: (row_col, col_col, n, w) — w the scaled-integer weight; the
    weighted margins n·w per row/col category agree with the uniform
    target to within |cells| quantization units.
    """
    r, c = F.col(row_col), F.col(col_col)
    cells = (
        df.groupBy(row_col, col_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.lit(1_000_000).cast("long"))
        .localCheckpoint(eager=True)
    )

    # constant targets from the ORIGINAL mass (the classic rake): T0 =
    # N·scale split evenly over each dimension's categories — two
    # metadata-scale driver reads, once, not per round
    t0 = cells.agg(F.sum(F.col("n") * F.col("w")).alias("t")).collect()[0]["t"]
    n_r = cells.select(row_col).distinct().count()
    n_c = cells.select(col_col).distinct().count()
    targets = {row_col: t0 // n_r, col_col: t0 // n_c}

    for _ in range(rounds):
        for key in (row_col, col_col):
            marg = cells.groupBy(key).agg(
                F.sum(F.col("n") * F.col("w")).alias("_m")
            )
            j = cells.join(marg, key)
            num = F.col("w") * F.lit(targets[key])
            adj = num - ((num % F.col("_m") + F.col("_m")) % F.col("_m"))
            cells = (
                j.withColumn("_num", adj)
                .withColumn("w", F.expr("_num div _m"))
                .select(row_col, col_col, "n", "w")
                .localCheckpoint(eager=True)
            )
    return cells.select(
        r, c, F.col("n").cast("long").alias("n"), F.col("w").cast("long").alias("w")
    )


def tempered_negatives(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Popularity-tempered negative sampling — the word2vec unigram^0.75
    distribution, distributed and DETERMINISTIC: each query draws k
    negatives from the item catalog with probability ∝ f^0.75 (raw
    frequency over-samples stop-items; uniform under-trains the head;
    3/4 tempering is the empirical sweet spot carried from word2vec to
    contrastive retrieval training).

    Determinism without RNG state: tempered weights are INTEGERS w =
    floor(sqrt(f·sqrt(f)) · 64) — f^{3/4} computed as nested sqrt, both
    IEEE-correctly-rounded, so floor is engine-exact (the pow() path is
    NOT portable and deliberately avoided); the catalog becomes
    cumulative [lo, hi] ranges over Σw, each (query, slot) hashes via
    md5 to u ∈ [0, Σw), and the draw is the range containing u — the
    cidr_lookup prefix-bucketing shape: a broadcast-size catalog (item
    dims are metadata-scale next to 10^12 queries) joined by range
    containment, equi-joinable on a bucket prefix when the catalog ever
    outgrows broadcast.

    Output: (query, slot, item) — k rows per query; collisions with the
    query's own positive are the caller's filter (the negative_pairs
    margin idiom).
    """
    w = F.floor(
        F.sqrt(F.col("f").cast("double")
               * F.sqrt(F.col("f").cast("double"))) * F.lit(64.0)
    ).cast("long")
    cat = items.select(F.col("item").alias("_it"), w.alias("_w")).filter(
        F.col("_w") > 0
    )
    wnd = Window.partitionBy(F.lit(1)).orderBy("_it")
    ranged = cat.select(
        "_it",
        (F.coalesce(
            F.sum("_w").over(wnd.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        )).alias("_lo"),
        F.col("_w"),
    ).select("_it", "_lo", (F.col("_lo") + F.col("_w") - 1).alias("_hi"))
    total = cat.agg(F.sum("_w")).collect()[0][0] or 0
    if total == 0:
        return queries.select(
            F.col("qid").alias("query"),
            F.lit(0).cast("long").alias("slot"),
            F.lit(None).cast("string").alias("item"),
        ).limit(0)
    slots = queries.select(
        F.col("qid").alias("query"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("query").cast("string"), F.lit(f":{seed}:"),
                    F.col("slot").cast("string"),
                ).cast("binary")
            ),
            1, 15,
        ),
        16, 10,
    ).cast("long") % F.lit(total)
    drawn = slots.withColumn("_u", u).join(
        F.broadcast(ranged),
        (F.col("_u") >= F.col("_lo")) & (F.col("_u") <= F.col("_hi")),
    )
    return drawn.select(
        "query", F.col("slot").cast("long").alias("slot"),
        F.col("_it").alias("item"),
    )


def temperature_downsample(
    df: DataFrame,
    group_col: str,
    alpha_q: int = 2,
) -> DataFrame:
    """Temperature-scaled source rebalancing (the multilingual-sampling /
    data-mixing classic: raw proportions overtrain the head source,
    uniform overtrains the tail — sample groups ∝ n_g^α, α ∈ (0,1)).
    Realized as deterministic DOWNSAMPLING: the target mix ∝ n_g^α is hit
    by keeping each row of group g with probability
    p_g = (n_min / n_g)^(1−α) — the smallest group keeps everything, a
    group X× larger keeps X^(α−1) of itself, and the kept mix is exactly
    temperature-flattened. α = alpha_q/4 with alpha_q ∈ {1, 2, 3}: the
    exponent tree is a nested-sqrt chain (x^¼ = sqrt(sqrt x), x^½ = sqrt,
    x^¾ = sqrt(x·sqrt x)) of CORRECTLY-ROUNDED IEEE primitives — the
    tempered_negatives discipline — so the per-group integer threshold
    floor(p_g·2³²) is bit-identical in any IEEE engine and the kept set
    is an exact function of the input (oracle-replayable, no RNG).

    Scale shape: one map-side-combinable group count (metadata-sized),
    one scalar min, one BROADCAST join of the |groups| thresholds back,
    and a scan-level u32-hash filter — no data-sized shuffle anywhere.

    Output: the kept rows of `df` (all original columns). Rows whose
    group is NULL belong to no group: they are dropped and do not count
    toward n_min.
    """
    if alpha_q not in (1, 2, 3):
        raise ValueError("alpha_q in {1, 2, 3} (alpha = alpha_q/4)")
    g = F.col(group_col)
    counts = (
        df.filter(g.isNotNull()).groupBy(group_col).agg(F.count(F.lit(1)).alias("_ng"))
    )
    nmin = counts.agg(F.min("_ng").alias("_nmin"))
    r = F.col("_nmin").cast("double") / F.col("_ng").cast("double")
    e = 4 - alpha_q  # p = r^(e/4)
    if e == 1:
        p = F.sqrt(F.sqrt(r))
    elif e == 2:
        p = F.sqrt(r)
    else:
        p = F.sqrt(r * F.sqrt(r))
    thr = (
        counts.crossJoin(F.broadcast(nmin))
        .select(g.alias("__tg"), F.floor(p * F.lit(float(_U32_SPAN))).alias("__thr"))
    )
    out = df.join(F.broadcast(thr), g == F.col("__tg"))
    return out.filter(
        _u32(F.col("doc_id"), 0) < F.col("__thr")
    ).drop("__tg", "__thr")
