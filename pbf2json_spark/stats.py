"""Distribution profiling primitives — the per-group statistics a corpus
pipeline runs to characterize hosts, languages, and regions before
setting curation thresholds: exact histogram quantiles (p50/p90/p99 of
document length per host) and concentration indices (how dominated is a
host by one page template, a region by one domain).

Everything is integer arithmetic end to end — bin edges, cumulative
ranks, e6 ratios — so results are bit-identical on any engine and the
DuckDB oracles compare value-exact. (`F.percentile` covers the
EXACT-quantile case at interpolated precision — see host_median_len;
these histogram quantiles are the SCALE path: fixed-width bins make the
state per group `range/bin_width` counters instead of the full value
multiset, the same trade t-digest/KLL make but deterministic.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def hist_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: int,
    percents: list[int] = (50, 90, 99),
) -> DataFrame:
    """Histogram quantiles per group: values bucket into fixed-width bins
    (bin = value div bin_width, integer), and the p-th quantile is the
    LOWER EDGE of the first bin whose cumulative count reaches
    ceil(p·total/100) — the classic "histogram_quantile" estimator
    (Prometheus/HDR-histogram semantics, conservative to the bin floor),
    fully deterministic: no interpolation, no float.

    Scale shape at 10^12 rows: ONE map-side-combinable groupBy to
    (group, bin) counts — state per group is the OCCUPIED bin count, not
    the row count — then a window cumsum over each group's bins (bins
    per group ≤ range/bin_width, thousands at most, so the window
    partition is tiny regardless of group size) and one aggregation
    picking each percentile's first crossing bin. Rows never shuffle
    twice; values never leave the scan stage.

    Output: (group_cols..., n_total) + one `p<P>` BIGINT column per
    requested percent (the bin lower edge, in value units).
    """
    if bin_width <= 0:
        raise ValueError("bin_width > 0")
    b = (
        df.select(*group_cols,
                  F.expr(f"{value_col} div {bin_width}").alias("_bin"))
        .groupBy(*group_cols, "_bin")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy(*group_cols).orderBy("_bin")
    c = b.select(
        *group_cols, "_bin", "_n",
        F.sum("_n").over(w).alias("_cum"),
        F.sum("_n").over(
            Window.partitionBy(*group_cols)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_tot"),
    )
    aggs = [F.max("_tot").alias("n_total")]
    for p in percents:
        # rank needed = ceil(p * total / 100), integer: (p*tot + 99) div 100
        aggs.append(
            F.min(
                F.when(
                    F.col("_cum") * 100 >= F.col("_tot") * p,
                    F.col("_bin") * bin_width,
                )
            ).alias(f"p{p}")
        )
    return c.groupBy(*group_cols).agg(*aggs)


def linear_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group OLS trend line over integer (x, y) points — "is this
    host's daily volume growing", "is this event type's rate decaying" —
    as exact fixed-point integers, so any engine and any partitioning
    agree bit-for-bit:

        slope_e6     = (n·Σxy − Σx·Σy) · 1e6 div (n·Σx² − (Σx)²)
        intercept_e6 = (Σy·1e6 − slope_e6·Σx) div n
        sr2_e6       = sign(cov) · cov² · 1e6 div (varx·vary)

    sr2_e6 is the SIGNED coefficient of determination (r² carrying the
    slope's sign, the standard sqrt-free correlation report: −1e6 ≤
    sr2_e6 ≤ 1e6). Degenerate groups (constant x or constant y) emit 0
    slope / 0 sr2 rather than dividing by zero; intercept then equals
    mean(y)·1e6 truncated. All products accumulate in DECIMAL(38,0)
    (cov²·1e6 passes 2^63 far below web scale); truncation toward zero
    matches DuckDB `//` exactly.

    Scale shape at 10^12 rows: ONE map-side-combinable groupBy carrying
    six int/decimal moments per group — no window, no second pass, no
    value multiset. The moments are order-independent sums, so AQE can
    split or coalesce partitions freely.

    Output: (group_cols..., n, slope_e6, intercept_e6, sr2_e6).
    """
    d38 = "DECIMAL(38,0)"
    m = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("_sx"),
        F.sum(F.col(y_col).cast("long")).alias("_sy"),
        F.sum(F.expr(f"CAST({x_col} AS {d38}) * {y_col}")).alias("_sxy"),
        F.sum(F.expr(f"CAST({x_col} AS {d38}) * {x_col}")).alias("_sxx"),
        F.sum(F.expr(f"CAST({y_col} AS {d38}) * {y_col}")).alias("_syy"),
    )
    c = m.select(
        *group_cols, "n", "_sx", "_sy",
        F.expr(f"CAST(n AS {d38}) * _sxy - CAST(_sx AS {d38}) * _sy")
        .alias("_cov"),
        F.expr(f"CAST(n AS {d38}) * _sxx - CAST(_sx AS {d38}) * _sx")
        .alias("_vx"),
        F.expr(f"CAST(n AS {d38}) * _syy - CAST(_sy AS {d38}) * _sy")
        .alias("_vy"),
    )
    slope = (
        "CASE WHEN _vx = 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(_cov * 1000000 div _vx AS BIGINT) END"
    )
    return c.select(
        *group_cols, "n",
        F.expr(slope).alias("slope_e6"),
        F.expr(
            f"CAST((CAST(_sy AS {d38}) * 1000000 - ({slope}) * _sx) "
            "div n AS BIGINT)"
        ).alias("intercept_e6"),
        F.expr(
            "CASE WHEN _vx = 0 OR _vy = 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(CASE WHEN _cov < 0 THEN -1 ELSE 1 END "
            "* (_cov * _cov * 1000000 div (_vx * _vy)) AS BIGINT) END"
        ).alias("sr2_e6"),
    )


def concentration(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
) -> DataFrame:
    """Concentration profile per group — how dominated a group is by its
    top item: the host-level "is this site one template repeated 10^6
    times", region-level "is this area one domain's CDN" screen.

        top_share_e6 = max(n_i) · 1e6 div N
        hhi_e8       = Σ n_i² · 1e8 div N²   (Herfindahl–Hirschman)

    hhi_e8 ranges from ~1e8/k (k equal items) to 1e8 (single item); e8
    keeps two extra digits so small-share sums don't vanish in the
    integer division. All integer — sums of squares are
    order-independent, so any partitioning and any engine agree exactly.

    Scale shape: TWO map-side-combinable groupBys — (group, item)
    counts, then per-group moments (count, max, sum of squares). No
    window, no sort; shuffle payload is (group, item, count).

    Output: (group_cols..., n_items, n_total, top_share_e6, hhi_e8).
    """
    per_item = (
        df.groupBy(*group_cols, item_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        per_item.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_n").alias("n_total"),
            F.max("_n").alias("_top"),
            F.sum(F.col("_n") * F.col("_n")).alias("_ss"),
        )
        .select(
            *group_cols, "n_items", "n_total",
            F.expr("_top * 1000000 div n_total").alias("top_share_e6"),
            F.expr("_ss * 100000000 div (n_total * n_total)").alias("hhi_e8"),
        )
    )


def mann_kendall(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per group — the NONPARAMETRIC
    complement to linear_trend: OLS slope is dragged by outliers and
    assumes linearity; MK only asks "do later values tend to be larger",
    which is the robust question for daily crawl/event volumes. The
    standard first stage of emerging-hotspot analysis.

        S = Σ_{i<j} sign(y_j − y_i)         (ordered by x)
        Var(S)·18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)

    Integer-exact, sqrt-free: emit S, the tie-corrected var18, and the
    continuity-corrected SQUARED z with the trend's sign

        mk2_e6 = sign(S) · (|S|−1)² · 18 · 1e6 div max(var18, 1)

    (z² > 3.84 ⇔ p < 0.05 two-sided, so mk2_e6 beyond ±3.84e6 flags a
    significant trend and its direction). Truncating div matches
    DuckDB's `//`.

    Shape at 10^12 rows: the input here is an ALREADY-AGGREGATED series
    (e.g. per-key day buckets — bounded rows per key), so the within-key
    pair join is quadratic only in the series length, never in the raw
    events; the join is a key equi-join, the tie term one combinable
    count. Raw-event callers must pre-aggregate (exactly like
    linear_trend).

    Output: (*group_cols, n_obs, s_stat, var18, mk2_e6).
    """
    a = df.select(
        *group_cols, F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )
    b = a.select(
        *group_cols, F.col("_x").alias("_x2"), F.col("_y").alias("_y2")
    )
    s = (
        a.join(b, group_cols)
        .filter(F.col("_x") < F.col("_x2"))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.signum(F.col("_y2") - F.col("_y")).cast("long"))
            .alias("s_stat"),
        )
    )
    nn = a.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_obs"))
    ties = (
        a.groupBy(*group_cols, "_y")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.expr("_t * (_t - 1) * (2 * _t + 5)")
            ).alias("_tie18"),
        )
    )
    return (
        # left join: a 1-observation group has no pairs → S = 0, kept
        nn.join(s, group_cols, "left")
        .withColumn("s_stat", F.coalesce("s_stat", F.lit(0).cast("long")))
        .join(ties, group_cols)
        .select(
            *group_cols, "n_obs", "s_stat",
            F.expr(
                "n_obs * (n_obs - 1) * (2 * n_obs + 5) - _tie18"
            ).cast("long").alias("var18"),
            F.expr(
                "CAST(sign(s_stat) AS BIGINT) * "
                "CAST((abs(s_stat) - 1) * (abs(s_stat) - 1) * 18 * 1000000 "
                "div greatest(n_obs * (n_obs - 1) * (2 * n_obs + 5) - _tie18, 1) "
                "AS BIGINT)"
            ).alias("mk2_e6"),
        )
    )


def chi2_divergence(
    df: DataFrame,
    group_cols: list[str],
    cat_col: str,
) -> DataFrame:
    """Per-group chi-square divergence of a categorical distribution
    against the GLOBAL (all-groups) distribution — the "which hosts have
    an anomalous language mix / content-type mix / status-code mix"
    screen. Groups whose mix matches the corpus score ~0; chi2_e6 past
    the χ²(k−1) quantiles flags outliers.

    With per-group observed o_c, group total n, global category count
    g_c, global total G (expected = n·g_c/G):

        chi2_e6 = Σ_c (o_c·G − n·g_c)² · 1e6 div (n · g_c · G)

    — every factor integer, one truncating div PER CATEGORY TERM before
    the sum (documented; both engines truncate identically, and the
    error per term is < 1e-6 of the term). Categories a group lacks
    contribute n·g_c·1e6 div (G... ) via o_c = 0 — the left join keeps
    them, which is what makes a MISSING expected-common category count
    as divergence.

    Shape at 10^12 rows: two combinable groupBys (group×cat, cat) + the
    group totals; the expected join is (group×cat) ⋈ broadcast(cat) —
    the category side is vocabulary-sized. Never a window, never
    all-pairs.

    Output: (*group_cols, n, n_cats, chi2_e6).
    """
    oc = df.groupBy(*group_cols, cat_col).agg(
        F.count(F.lit(1)).alias("_o")
    )
    gc = df.groupBy(cat_col).agg(F.count(F.lit(1)).alias("_g"))
    # NB: Spark resolves names case-insensitively, so the grand total
    # must not be spelled `_G` alongside the per-category `_g`.
    gt = df.agg(F.count(F.lit(1)).alias("_gg"))
    nt = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    # full grid: every group × every GLOBAL category (missing cats count)
    grid = nt.crossJoin(F.broadcast(gc))
    full = grid.join(oc, [*group_cols, cat_col], "left").select(
        *group_cols, "n", "_g",
        F.coalesce("_o", F.lit(0)).cast("long").alias("_o"),
    )
    return (
        full.crossJoin(F.broadcast(gt))
        .select(
            *group_cols, "n",
            F.expr(
                "CAST((CAST(_o AS DECIMAL(38,0)) * _gg - "
                "CAST(n AS DECIMAL(38,0)) * _g) * "
                "(CAST(_o AS DECIMAL(38,0)) * _gg - "
                "CAST(n AS DECIMAL(38,0)) * _g) * 1000000 div "
                "(CAST(n AS DECIMAL(38,0)) * _g * _gg) AS BIGINT)"
            ).alias("_term"),
        )
        .groupBy(*group_cols, "n")
        .agg(
            F.count(F.lit(1)).alias("n_cats"),
            F.sum("_term").alias("chi2_e6"),
        )
        .select(*group_cols, "n", "n_cats", "chi2_e6")
    )


def gini_index(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
) -> DataFrame:
    """Per-group Gini concentration index over a NON-NEGATIVE INTEGER
    value column, e6 fixed point — the inequality screen a curation
    pipeline runs before trusting per-host aggregates: a host whose byte
    volume is one giant page (gini → 1) and a host of uniform pages
    (gini → 0) need different thresholds.

    Exact rank formula, G = (2·T − (n+1)·S) / (n·S) with
    T = Σ_i i·x_(i) over the ascending sort — but computed in HISTOGRAM
    form so no per-row window is needed: with count c_v per distinct
    value v and C_v = cumulative count of strictly smaller values,

        T = Σ_v v · (C_v·c_v + c_v·(c_v+1)/2)

    (the c·(c+1) product is always even, so the /2 is exact). Tie order
    cannot matter: swapping equal values leaves Σ i·x_(i) unchanged,
    which is why the histogram form equals ANY sorted-row evaluation —
    the DuckDB oracle uses the row_number() form and matches bit-exact.
    gini_e6 = (2T − (n+1)S)·1e6 div (n·S); the numerator is ≥ 0 by the
    rearrangement inequality, so floor and truncating div agree. Groups
    with S = 0 (all-zero values) emit gini_e6 = 0.

    Shape at 10^12 rows: ONE map-side-combinable (group, value) count,
    then a window over the AGGREGATED histogram — partition size is the
    group's number of DISTINCT values, not its row count (doc lengths,
    status codes, and size buckets are small domains). Never a per-row
    window, never a self-join.

    Output: (*group_cols, n, sum_val, gini_e6) — all BIGINT.
    """
    hist = df.groupBy(*group_cols, val_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        *group_cols,
        F.col(val_col).cast("decimal(38,0)").alias("_v"),
        F.col("_c").cast("decimal(38,0)").alias("_cd"),
        (F.sum("_c").over(w) - F.col("_c")).cast("decimal(38,0)").alias("_cprev"),
    )
    terms = cum.select(
        *group_cols,
        F.col("_cd"),
        (F.col("_v") * F.col("_cd")).alias("_s_term"),
        (
            F.col("_v")
            * (F.col("_cprev") * F.col("_cd")
               + F.col("_cd") * (F.col("_cd") + 1) / 2)
        ).cast("decimal(38,0)").alias("_t_term"),
    )
    agg = terms.groupBy(*group_cols).agg(
        F.sum("_cd").cast("long").alias("n"),
        F.sum("_s_term").alias("_s"),
        F.sum("_t_term").alias("_t"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.col("_s").cast("long").alias("sum_val"),
        F.when(F.col("_s") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST((2 * _t - (CAST(n AS DECIMAL(38,0)) + 1) * _s) "
                "* 1000000 div (CAST(n AS DECIMAL(38,0)) * _s) AS BIGINT)"
            )
        )
        .alias("gini_e6"),
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-group robust outlier screen on an integer value column:
    median, MAD (median absolute deviation), and the count of values
    deviating more than k·MAD from the median — the scale-free anomaly
    count that, unlike mean/stddev z-scores, a few extreme values cannot
    mask (the host whose page sizes are one 2 GB blob among 10-byte
    stubs still shows a tiny MAD and flags the blob).

    Exactness: the exact interpolated percentile of integers is an
    integer or half-integer; |x − median| is then dyadic too, and ITS
    median interpolates to quarters — every step (sub, abs, interpolate,
    integer-k multiply, compare) is IEEE-exact, so DuckDB's
    quantile_cont mirror matches bit-for-bit (the host_median_len
    precedent). Degenerate groups where ≥ half the values equal the
    median have MAD = 0, and ANY deviation then counts as an outlier —
    the standard MAD caveat, deliberate here (a constant-template host
    SHOULD flag every off-template page).

    Shape: exact percentiles hold a group's value multiset during the
    aggregation, so this is the bounded-group-size exactness twin;
    `hist_quantiles` is the unbounded scale path. Two joins back against
    the one-row-per-group stats frames (broadcast-sized relative to the
    data) — no window, no self-join.

    Output: (*group_cols, n, median, mad, n_outliers).
    """
    med = df.groupBy(*group_cols).agg(
        F.percentile(F.col(val_col), F.lit(0.5)).alias("_med")
    )
    dev = df.join(F.broadcast(med), group_cols).select(
        *group_cols, "_med",
        F.abs(F.col(val_col) - F.col("_med")).alias("_dev"),
    )
    mad = dev.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_med").alias("median"),
        F.percentile(F.col("_dev"), F.lit(0.5)).alias("mad"),
    )
    return (
        dev.join(F.broadcast(mad), group_cols)
        .groupBy(*group_cols, "n", "median", "mad")
        .agg(
            F.sum(
                F.when(F.col("_dev") > F.lit(k) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers")
        )
        .select(*group_cols, "n", "median", "mad", "n_outliers")
    )


def ks_divergence(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
) -> DataFrame:
    """Per-group Kolmogorov-Smirnov distance of an INTEGER value
    distribution against the GLOBAL (all-groups) distribution — the
    ordinal complement of chi2_divergence (which sees categories, not
    order): a host whose page lengths are shifted 10% off the corpus
    norm scores high here even when every individual length value is
    common. In e6 fixed point,

        ks_e6 = max_v |cdfg(v)·1e6 − cdf(v)·1e6|
              = max_v |Cg(v)·N − C(v)·n| · 1e6 div (n·N)

    with Cg/C cumulative counts at each distinct GLOBAL value v (the sup
    over a step function is attained at a jump, and every jump of either
    cdf is at a global distinct value — evaluating on the global value
    grid is exact, not an approximation). One truncating div at the max
    (integer products first), identical in DuckDB.

    Shape at 10^12 rows: ONE combinable (group, value) count + one global
    value count; the evaluation grid is groups × DISTINCT values
    (vocabulary-sized — lengths, status codes, bucketed sizes), built by
    a broadcast of the global value histogram; cumsums are windows over
    the AGGREGATED grid ordered by value. Never a per-row window.

    Output: (*group_cols, n, ks_e6) — BIGINT.
    """
    oc = df.groupBy(*group_cols, val_col).agg(
        F.count(F.lit(1)).alias("_o")
    )
    gc = df.groupBy(val_col).agg(F.count(F.lit(1)).alias("_g"))
    nt = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    grid = nt.crossJoin(F.broadcast(gc))
    full = grid.join(oc, [*group_cols, val_col], "left").select(
        *group_cols, "n", F.col(val_col).alias("_v"), "_g",
        F.coalesce("_o", F.lit(0)).cast("long").alias("_o"),
    )
    wg = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = df.agg(F.count(F.lit(1)).alias("_nn"))
    cums = full.select(
        *group_cols, "n",
        F.sum("_o").over(wg).alias("_cg"),
        F.sum("_g").over(wg).alias("_c"),
    )
    return (
        cums.crossJoin(F.broadcast(tot))
        .select(
            *group_cols, "n",
            F.expr(
                "abs(CAST(_cg AS DECIMAL(38,0)) * _nn - "
                "CAST(_c AS DECIMAL(38,0)) * n) * 1000000 "
                "div (CAST(n AS DECIMAL(38,0)) * _nn)"
            ).cast("long").alias("_d"),
        )
        .groupBy(*group_cols, "n")
        .agg(F.max("_d").alias("ks_e6"))
        .select(*group_cols, "n", "ks_e6")
    )


def theil_sen(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Theil-Sen robust slope: the MEDIAN of all pairwise
    slopes (yj−yi)/(xj−xi) over xi < xj — the robust-regression member
    of the trend family (linear_trend = OLS, mann_kendall = direction
    test; Theil-Sen gives the MAGNITUDE a few outlier days cannot drag,
    up to ~29% contamination).

    Portability: each pairwise slope quantizes to
    (yj−yi)·1e6 div (xj−xi) — integer truncating division, identical in
    both engines for either sign — and the median of those integers is
    the exact interpolated percentile (dyadic rational, IEEE-exact; the
    host_median_len precedent). The e6 quantization before the median is
    part of the operator's CONTRACT (slopes are reported in e6 anyway),
    which is what makes the result bit-portable rather than
    rational-arithmetic-exact.

    Shape at 10^12 rows: feed AGGREGATED series (e.g. daily counts per
    key — the same envelope as mann_kendall): the pair join is quadratic
    only in each group's number of OBSERVATIONS (days, not events), one
    equi-join on the group key; the median is one exact percentile over
    the per-group pair list. Ties in x (duplicate observations) are
    excluded pairs, as in the classic estimator.

    Output: (*group_cols, n_obs, n_pairs, ts_slope_e6:double).
    """
    a = df.select(
        *group_cols,
        F.col(x_col).cast("long").alias("_xa"),
        F.col(y_col).cast("long").alias("_ya"),
    )
    b = df.select(
        *group_cols,
        F.col(x_col).cast("long").alias("_xb"),
        F.col(y_col).cast("long").alias("_yb"),
    )
    pairs = a.join(b, group_cols).filter(F.col("_xa") < F.col("_xb"))
    slopes = pairs.select(
        *group_cols,
        F.expr(
            "CAST((CAST(_yb AS DECIMAL(38,0)) - _ya) * 1000000 "
            "div (CAST(_xb AS DECIMAL(38,0)) - _xa) AS BIGINT)"
        ).alias("_s"),
    )
    nobs = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_obs"))
    med = slopes.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(F.col("_s"), F.lit(0.5)).alias("ts_slope_e6"),
    )
    return nobs.join(med, group_cols, "left").select(
        *group_cols, "n_obs",
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        "ts_slope_e6",
    )


def isotonic_fit(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group isotonic (monotone non-decreasing) regression by Pool
    Adjacent Violators — the shape-constrained calibration fit (score →
    observed rate curves must not wiggle downward; dose-response and
    rank-calibration curves likewise). Returns each input point with its
    fitted level.

    Exactness: PAV pools are averages of integer y's — kept as exact
    (sum, count) INTEGER pairs through every merge and compared by
    cross-multiplication, so pooling decisions never touch a float; the
    emitted level is one final correctly-rounded division per pool.
    Order within a group follows ascending x (ties on x pre-averaged
    into one point, the standard primal treatment, also in exact int
    pairs; the pooled fit repeats per input row).

    PAV's merge loop is sequential — not relational — so the kernel is
    one applyInPandas per group (the sessionize envelope, O(n) stack
    passes). No SQL oracle by design; correctness is pytest vs a brute
    PAV and the quadratic-program optimality property (any monotone
    sequence has ≥ the fitted squared error).

    Output: (*group_cols, x, y_mean, fitted) — one row per DISTINCT x.
    """
    import pandas as pd
    import pyspark.sql.types as _T

    schema = _T.StructType(
        [f for f in df.select(*group_cols).schema.fields]
        + [
            _T.StructField("x", _T.LongType()),
            _T.StructField("y_mean", _T.DoubleType()),
            _T.StructField("fitted", _T.DoubleType()),
        ]
    )
    gc = list(group_cols)

    def _pav(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf.iloc[0][gc]
        pts: dict[int, tuple[int, int]] = {}
        for x, y in zip(pdf["_x"], pdf["_y"]):
            s, c = pts.get(int(x), (0, 0))
            pts[int(x)] = (s + int(y), c + 1)
        xs = sorted(pts)
        # stack of pools: (start_idx, sum, cnt)
        stack: list[list[int]] = []
        for i, x in enumerate(xs):
            s, c = pts[x]
            stack.append([i, s, c])
            # merge while the last pool's mean < the previous pool's mean
            while len(stack) >= 2 and (
                stack[-1][1] * stack[-2][2] < stack[-2][1] * stack[-1][2]
            ):
                _i, s2, c2 = stack.pop()
                stack[-1][1] += s2
                stack[-1][2] += c2
        fitted = [0.0] * len(xs)
        for j, (start, s, c) in enumerate(stack):
            end = stack[j + 1][0] if j + 1 < len(stack) else len(xs)
            for i in range(start, end):
                fitted[i] = s / c
        rows = []
        for i, x in enumerate(xs):
            s, c = pts[x]
            rows.append([*keys, x, s / c, fitted[i]])
        return pd.DataFrame(rows, columns=[*gc, "x", "y_mean", "fitted"])

    p = df.select(
        *gc,
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    return p.groupBy(*gc).applyInPandas(_pav, schema)


def skyline_2d(
    df: DataFrame,
    group_cols: list[str],
    max_col: str,
    min_col: str,
) -> DataFrame:
    """Per-group 2-D Pareto skyline: keep every row NOT dominated by
    another row of the same group, where s dominates r iff
    s.max_col >= r.max_col AND s.min_col <= r.min_col with at least one
    strict. The multi-criteria frontier ("most tokens for the fewest
    bytes" document picks; "closest AND freshest" capture picks) — the
    reference's trim/priority picks are 1-D versions of this
    (entranceLookup's priority chain, pbf2json.go:744-776).

    Shape: the naive formulation is an O(n²) self-join; for TWO integer
    criteria the frontier test collapses to two window minima —
      m_gt  = min(min_col) over rows with max_col  > current  (RANGE 1
              FOLLOWING .. UNBOUNDED, ascending max_col — integer-exact)
      m_eq  = min(min_col) over rows with max_col == current
    and r survives iff (m_gt IS NULL OR m_gt > r.min_col) AND
    (m_eq >= r.min_col). One sort per group (a single RangePartition +
    running-min pass, no join, no explode), identical RANGE frames exist
    in DuckDB — the oracle is value-exact. Duplicated (max,min) points
    are mutually non-dominating and all survive, matching the strict-
    dominance definition.

    Both criteria must be integral (the RANGE 1 FOLLOWING trick equates
    "strictly greater" with ">= +1"); cast upstream for fixed-point
    floats. Output: the surviving input rows, all columns preserved.
    """
    gc = list(group_cols)
    w_gt = (
        Window.partitionBy(*gc)
        .orderBy(F.col(max_col).asc())
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy(*gc, max_col)
    out = (
        df.withColumn("_m_gt", F.min(min_col).over(w_gt))
        .withColumn("_m_eq", F.min(min_col).over(w_eq))
        .filter(
            (F.col("_m_gt").isNull() | (F.col("_m_gt") > F.col(min_col)))
            & (F.col("_m_eq") >= F.col(min_col))
        )
        .drop("_m_gt", "_m_eq")
    )
    return out


def cube_counts(
    df: DataFrame,
    dims: list[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Multi-granularity rollup over every subset of `dims` in ONE pass —
    Spark's native `cube` grouping sets (the OLAP totals/subtotals lattice:
    per (type, day), per type, per day, grand total). Catalyst expands the
    lattice with a single Expand + one aggregate exchange instead of 2^d
    separate scans — the plan you want at 100 TB.

    Each dim gets an explicit `g_<dim>` flag (0 = grouped, 1 = rolled up)
    computed as F.grouping(dim) — NULL dim VALUES in the data stay
    distinguishable from the rolled-up NULLs, and the explicit per-dim
    flags sidestep the engines' differing grouping_id() bit conventions
    (the oracle computes the same GROUPING(d) per dim).

    Output: (*dims, g_<dim>..., n [, w_sum]).
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight_col is not None:
        aggs.append(F.sum(weight_col).alias("w_sum"))
    flags = [F.grouping(d).cast("long").alias(f"g_{d}") for d in dims]
    return df.cube(*dims).agg(*flags, *aggs)


def trimmed_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group trimmed robust statistics: mean/extremes of the values
    strictly INSIDE the [0.1, 0.9] quantile band — the outlier-immune
    center a mean-of-everything gets wrong on heavy-tailed web data (one
    1 GB page, one thousand empty ones) and a median alone under-uses.

    Exactness contract: the band edges come from the EXACT interpolating
    percentile (F.percentile — the host_median_len precedent: DuckDB's
    quantile_cont interpolates identically on integer inputs); kept
    values are the original INTEGER values, so n_kept / sum_kept are
    order-independent exact and trimmed_mean is ONE division —
    bit-identical in any IEEE engine. (A winsorized mean would sum
    interpolated FLOAT clamps — summation-order dependent — so this
    operator trims; winsorize at the caller on top of the returned
    bounds if approximate is acceptable.)

    Shape at 10^12 rows: one percentile aggregate per group + one
    broadcastable (group, bounds) join back + one filtered sum groupBy —
    two map-side-combinable exchanges, values never materialize sorted.

    Output: group_cols + (q_lo, q_hi double, n_kept, sum_kept long,
    trimmed_mean double).
    """
    gs = list(group_cols or [])
    v = F.col(value_col)
    bounds = df.groupBy(*gs).agg(
        F.expr(f"percentile({value_col}, 0.1)").alias("q_lo"),
        F.expr(f"percentile({value_col}, 0.9)").alias("q_hi"),
    )
    joined = (
        df.join(F.broadcast(bounds), gs)
        if gs
        else df.crossJoin(F.broadcast(bounds))
    )
    kept = joined.filter((v >= F.col("q_lo")) & (v <= F.col("q_hi")))
    agg = kept.groupBy(*gs).agg(
        F.first("q_lo").alias("q_lo"),
        F.first("q_hi").alias("q_hi"),
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(v.cast("long")).alias("sum_kept"),
    )
    return agg.withColumn(
        "trimmed_mean",
        F.col("sum_kept").cast("double") / F.col("n_kept").cast("double"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram bins for a [0,1] score against a binary
    outcome — the calibration check every learned quality/risk scorer
    needs before its threshold gates a corpus (a scorer that says 0.9
    and is right 60% of the time silently biases the whole release).

    Exactness contract: bin membership is floor(score·n_bins) clamped to
    the top bin; counts are integers, pos_rate is ONE division, and the
    per-bin score mass crosses the shuffle as round(score·1e6) int64
    (float sums are order-dependent, integer sums are not — the
    rasterize quantization discipline). ONE map-side-combinable groupBy.

    Output: (bin int, n long, n_pos long, pos_rate double,
    score_sum_e6 long).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.lit(n_bins - 1), F.floor(s * n_bins).cast("int")
    ).alias("bin")
    agg = (
        df.select(
            b,
            (F.col(label_col).cast("long") > 0).cast("long").alias("_y"),
            F.round(s * 1_000_000).cast("long").alias("_se6"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").alias("n_pos"),
            F.sum("_se6").alias("score_sum_e6"),
        )
    )
    return agg.select(
        "bin", "n", "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
        "score_sum_e6",
    )


def auc_exact(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact ROC AUC per group via the Mann-Whitney rank-sum identity —
    the threshold-free companion of calibration_bins (a scorer can be
    perfectly calibrated and still not rank; AUC is the ranking half).

    AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺ · n⁻), ties by
    midrank. Everything before the final division is INTEGER: the
    per-item midrank is (cum_below + cum_below + cnt + 1)/2, so twice
    the positive rank-sum is Σ pos·(2·cum_below + cnt + 1) — an int64 —
    and AUC is ONE division (2·S⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻), exact-rounded
    and bit-identical cross-engine.

    Scale shape: ranks do NOT come from a global row sort — scores are
    first histogrammed (groupBy score: cnt, pos), then a window runs
    over the DISTINCT-score histogram only. Exact for discrete/quantized
    score domains (quantize a continuous score first — the calibration
    discipline); |distinct scores| bounds the window input, not |rows|.

    Output: group_cols + (n_pos, n_neg long, auc double; degenerate
    groups — no positives or no negatives — report auc NULL).
    """
    gs = list(group_cols or [])
    hist = df.groupBy(*gs, F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum((F.col(label_col).cast("long") > 0).cast("long")).alias("_pos"),
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in gs]).orderBy("_s")
        if gs
        else Window.partitionBy(F.lit(1)).orderBy("_s")
    )
    ranked = hist.withColumn(
        "_below",
        F.coalesce(
            F.sum("_cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    )
    # twice the positive mid-rank sum, all integer
    contrib = F.col("_pos") * (2 * F.col("_below") + F.col("_cnt") + 1)
    agg = ranked.groupBy(*gs).agg(
        F.sum("_pos").alias("n_pos"),
        F.sum(F.col("_cnt") - F.col("_pos")).alias("n_neg"),
        F.sum(contrib).alias("_s2"),
    )
    auc = (
        (F.col("_s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
        / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
    )
    return agg.select(
        *gs, "n_pos", "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc).alias("auc"),
    )


# --- deterministic Poisson bootstrap -----------------------------------------------

# Poisson(1) CDF at k = 0..7, scaled to 2^32 and floored — LITERAL constants
# (not computed at import) so Spark, DuckDB, and the pytest reference share
# the exact same integers with no libm in the loop. P(k > 7) ≈ 1e-5 folds
# into the top bucket (w = 8).
POISSON1_T32 = [
    1580030168, 3160060337, 3950075421, 4213413783,
    4279248373, 4292415291, 4294609777, 4294923276,
]


def _u32_key(key: Column, rep: Column) -> Column:
    """Uniform u32 from md5(key ':' rep) — the sampling.py portable idiom."""
    s = F.concat(key.cast("string"), F.lit(":"), rep.cast("string"))
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast("long")


def poisson_weight(u32: Column) -> Column:
    """Deterministic Poisson(1) draw from a u32 via the inverse CDF ladder."""
    w = F.lit(8)
    for k in range(len(POISSON1_T32) - 1, -1, -1):
        w = F.when(u32 < F.lit(POISSON1_T32[k]), F.lit(k)).otherwise(w)
    return w.cast("long")


def bootstrap_ci(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    reps: int = 40,
) -> DataFrame:
    """Deterministic POISSON bootstrap (Chamandy et al.'s resampling for
    massive data): a confidence interval for the per-group mean computed
    without ever materializing an index over the group — the classic
    index-resample bootstrap needs "draw row j of n", which at 10^12 rows
    means a dense global row-number; the Poisson bootstrap replaces it
    with a ROW-LOCAL integer weight w ~ Poisson(1) per (row, replicate),
    so resampling is a scan-stage explode + ONE map-side-combinable
    groupBy — no index, no shuffle of values, partition-order free.

    Determinism: w = inverse-CDF ladder over u32 = md5(id ':' rep) —
    re-run / re-partition / cross-engine identical (no RNG state). The
    replicate statistic is the SCALED INTEGER mean ``(Σ w·x · 10⁶) div
    Σ w`` (exact integer division, never a float sum), replicates sort by
    (stat, rep) and the CI bounds are the ceil(α·R)-th and
    ceil((1−α)·R)-th order statistics — every gate-surface column BIGINT.

    Replicates whose resample is empty (Σw = 0 — only plausible for tiny
    groups) are dropped and n_reps reports the survivors. ``reps`` is a
    bounded constant (≤ a few hundred): the explode is reps× on slim
    (group, rep, x) payload and partial aggregation collapses it before
    the exchange; the per-group collect_list holds ≤ reps structs.

    Output: group_cols + n, total, mean_scaled, ci_lo, ci_hi (all
    BIGINT, mean×10⁶ floored), n_reps.
    """
    gs = [F.col(c) for c in group_cols]
    x = F.col(value_col).cast("long")
    rep = F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("_rep")
    e = df.select(*gs, x.alias("_x"), F.col(id_col).alias("_id")).select(
        "*", rep
    )
    w = poisson_weight(_u32_key(F.col("_id"), F.col("_rep")))
    # exact BIGINT floor(a/b) pattern used below: normalize the numerator
    # down to its floor multiple (the double-mod handles negative sums in
    # both engines' truncated %), then `div` the exact multiple — never a
    # float division anywhere on the gate surface
    per_rep = (
        e.withColumn("_w", w)
        .groupBy(*group_cols, "_rep")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).alias("_rsum"),
            F.sum("_w").alias("_rn"),
        )
        .filter(F.col("_rn") > 0)
        .withColumn("_num", F.col("_rsum") * F.lit(1_000_000))
        .withColumn(
            "_adj", F.col("_num") - ((F.col("_num") % F.col("_rn") + F.col("_rn")) % F.col("_rn"))
        )
        .withColumn("_m", F.expr("_adj div _rn"))
    )

    base = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum(x).alias("total")
    )
    reps_agg = per_rep.groupBy(*group_cols).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("_m").alias("m"), F.col("_rep").alias("r")))
        ).alias("_arr")
    )
    r_cnt = F.size("_arr")
    lo_i = F.greatest(F.lit(1), F.ceil(F.lit(0.05) * r_cnt)).cast("int")
    hi_i = F.least(r_cnt, F.ceil(F.lit(0.95) * r_cnt)).cast("int")
    total_e6 = F.col("total") * F.lit(1_000_000)
    out = base.join(reps_agg, group_cols).select(
        *group_cols,
        "n",
        "total",
        (
            total_e6
            - ((total_e6 % F.col("n") + F.col("n")) % F.col("n"))
        ).alias("_tm"),
        F.element_at("_arr", lo_i)["m"].alias("ci_lo"),
        F.element_at("_arr", hi_i)["m"].alias("ci_hi"),
        r_cnt.cast("long").alias("n_reps"),
    )
    return out.select(
        *group_cols, "n", "total",
        F.expr("_tm div n").alias("mean_scaled"),
        "ci_lo", "ci_hi", "n_reps",
    )


# --- exact Spearman rank correlation -----------------------------------------------


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group Spearman rank correlation, exact under ties: Pearson on
    DOUBLED midranks, whose sufficient statistics are pure BIGINTs (a
    midrank is half-integral, so 2·rank is integral: 2r = 2·below + cnt
    + 1 — the auc_exact identity applied to both columns). The gate
    surface is the integer moment set (n, Σ2rx·2ry, Σ2rx, Σ2ry, Σ(2rx)²,
    Σ(2ry)²-derived covariance/variance terms); rho itself is two
    multiplies + one sqrt at the very end, ADVISORY (emitted for humans,
    excluded from hash comparison by the est/est_raw convention).

    The simple 1 − 6Σd²/(n(n²−1)) textbook form is exact ONLY without
    ties; Pearson-on-midranks is the tie-correct definition (identical
    when no ties exist) — web data (lengths, counts) always has ties.

    Scale shape: ranks come from DISTINCT-VALUE histograms (groupBy
    value + a window over distinct values only — never a global row
    sort), one broadcast-size frame per column, joined back on (group,
    value). Exact-integer range: |Σ(2r)²| ≤ 4n³ → n per group must stay
    below ~1.3·10⁶ for int64; beyond that, quantize the inputs first
    (the calibration_bins discipline) — ranks of quantized values need
    only the histogram, which never overflows.

    Output: group_cols + n, s_cov, s_varx, s_vary (exact BIGINT: n·Σxy −
    ΣxΣy form over doubled ranks), rho double (NULL when either variance
    term is 0 — a constant column has no rank order).
    """
    gs = list(group_cols or [])

    def ranks(col: str, alias: str) -> DataFrame:
        hist = df.groupBy(*gs, F.col(col).alias("_v")).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        w = (
            Window.partitionBy(*[F.col(c) for c in gs]).orderBy("_v")
            if gs
            else Window.partitionBy(F.lit(1)).orderBy("_v")
        )
        below = F.coalesce(
            F.sum("_cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        )
        return hist.select(
            *gs,
            F.col("_v").alias(col),
            (2 * below + F.col("_cnt") + 1).alias(alias),
        )

    rx = ranks(x_col, "_2rx")
    ry = ranks(y_col, "_2ry")
    j = df.join(rx, gs + [x_col]).join(ry, gs + [y_col])
    agg = j.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_2rx") * F.col("_2ry")).alias("_sxy"),
        F.sum("_2rx").alias("_sx"),
        F.sum("_2ry").alias("_sy"),
        F.sum(F.col("_2rx") * F.col("_2rx")).alias("_sxx"),
        F.sum(F.col("_2ry") * F.col("_2ry")).alias("_syy"),
    )
    s_cov = F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    s_vx = F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    s_vy = F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    rho = s_cov.cast("double") / F.sqrt(s_vx.cast("double") * s_vy.cast("double"))
    return agg.select(
        *gs,
        "n",
        s_cov.alias("s_cov"),
        s_vx.alias("s_varx"),
        s_vy.alias("s_vary"),
        F.when((s_vx > 0) & (s_vy > 0), rho).alias("rho"),
    )


# --- cross-group quantile normalization --------------------------------------------


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Cross-group quantile normalization: every value is replaced by the
    POOLED distribution's order statistic at the same relative rank —
    after which all groups share one distribution shape (the microarray
    normalization classic, here the cross-dump calibration step: quality
    scores from different crawl dumps stop being comparable the moment
    the dumps' score distributions drift; rank-mapping them onto the
    pooled empirical distribution makes one threshold mean one thing).

    ALL-INTEGER, tie-correct: the in-group position is the DOUBLED
    midrank 2r = 2·below + cnt + 1 (the spearman/auc identity), the
    pooled target index is idx = ((2r − 1) · N) div (2·n_g) + 1 (exact
    floor arithmetic, clamped to [1, N]), and the mapped value is the
    idx-th smallest pooled value — SELECTED, never interpolated, so the
    output stays in the value domain and bit-equal anywhere.

    Shape: per-group and pooled DISTINCT-VALUE histograms (window over
    distinct values only — never a global row sort); the idx → value
    lookup joins against the pooled histogram's cumulative [lo, hi]
    rank ranges — a range join against a METADATA-SCALE table (|distinct
    values|; quantize continuous scores first, the calibration_bins
    discipline), broadcast and AQE-safe.

    Output: df columns + norm_value (same domain as value_col).
    """
    gs, v = F.col(group_col), F.col(value_col)

    hist = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    wg = Window.partitionBy(group_col).orderBy(value_col)
    below = F.coalesce(
        F.sum("_cnt").over(wg.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    ranks = hist.select(
        group_col,
        value_col,
        (2 * below + F.col("_cnt") + 1).alias("_2r"),
    )
    gsize = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_ng"))

    pooled = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_pc"))
    wp = Window.partitionBy(F.lit(1)).orderBy(value_col)
    plo = F.coalesce(
        F.sum("_pc").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    ) + 1
    pooled = pooled.select(
        F.col(value_col).alias("_pv"),
        plo.alias("_lo"),
        (plo + F.col("_pc") - 1).alias("_hi"),
    )
    n_pool = df.count()

    num = (F.col("_2r") - 1) * F.lit(n_pool)
    den = 2 * F.col("_ng")
    idx_raw = F.expr("_qn_num div _qn_den") + 1
    r = (
        ranks.join(F.broadcast(gsize), group_col)
        .withColumn("_qn_num", num)
        .withColumn("_qn_den", den)
        .withColumn(
            "_idx",
            F.greatest(F.lit(1), F.least(F.lit(n_pool), idx_raw)),
        )
    )
    mapped = r.join(
        F.broadcast(pooled),
        (F.col("_idx") >= F.col("_lo")) & (F.col("_idx") <= F.col("_hi")),
    ).select(group_col, value_col, F.col("_pv").alias("norm_value"))
    return df.join(mapped, [group_col, value_col])


# --- standard deviational ellipse ---------------------------------------------------


def deviational_ellipse(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Standard deviational ellipse (Lefever 1926) — the classic
    centrographic summary of a point cloud's directional spread: where
    is a user's/topic's activity centered, how anisotropic is it, along
    which axis does it stretch (commute corridors, coastline-hugging
    crawls). Complements radius_of_gyration (isotropic spread) with the
    directional second-moment structure.

    Exact-integer moment surface: n, Σx, Σy and the CENTRAL second
    moments cxx = n·Σx² − (Σx)², cyy, cxy as DECIMAL(38,0)-accumulated
    BIGINTs (the linear_trend discipline) — order-free, engine-exact.
    The eigenvalues of the (scaled) covariance are

        eig± = ((cxx+cyy) ± sqrt((cxx−cyy)² + 4·cxy²)) / 2

    — a fixed tree of IEEE-correctly-rounded ops (±, ×, sqrt), so the
    eig columns are bit-identical cross-engine (the spearman-rho
    precedent). The ellipse ANGLE needs atan2, which libm does NOT
    guarantee correctly rounded — it is deliberately NOT emitted here;
    derive it downstream from (cxx − cyy, 2·cxy) when a display needs it
    (the sign pair is exact).

    Shape: ONE map-side-combinable groupBy of six moments. Inputs are
    integer coordinates (microdegrees / cell indices — the house
    convention); int64/decimal38 bounds as in linear_trend.

    Output: group_cols + (n, sx, sy, cxx, cyy, cxy BIGINT-exact,
    eig_major, eig_minor double fixed-tree).
    """
    d38 = "DECIMAL(38,0)"
    m = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("sx"),
        F.sum(F.col(y_col).cast("long")).alias("sy"),
        F.sum(F.expr(f"CAST({x_col} AS {d38}) * {x_col}")).alias("_sxx"),
        F.sum(F.expr(f"CAST({y_col} AS {d38}) * {y_col}")).alias("_syy"),
        F.sum(F.expr(f"CAST({x_col} AS {d38}) * {y_col}")).alias("_sxy"),
    )
    c = m.select(
        *group_cols, "n", "sx", "sy",
        F.expr(f"CAST(CAST(n AS {d38}) * _sxx - CAST(sx AS {d38}) * sx "
               "AS BIGINT)").alias("cxx"),
        F.expr(f"CAST(CAST(n AS {d38}) * _syy - CAST(sy AS {d38}) * sy "
               "AS BIGINT)").alias("cyy"),
        F.expr(f"CAST(CAST(n AS {d38}) * _sxy - CAST(sx AS {d38}) * sy "
               "AS BIGINT)").alias("cxy"),
    )
    tr = F.col("cxx").cast("double") + F.col("cyy").cast("double")
    dd = F.col("cxx").cast("double") - F.col("cyy").cast("double")
    disc = F.sqrt(dd * dd + 4.0 * F.col("cxy").cast("double") * F.col("cxy").cast("double"))
    return c.select(
        *group_cols, "n", "sx", "sy", "cxx", "cyy", "cxy",
        ((tr + disc) / 2.0).alias("eig_major"),
        ((tr - disc) / 2.0).alias("eig_minor"),
    )


# --- Cohen's kappa -----------------------------------------------------------------


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement — the label-quality gate for
    annotation pipelines (two human annotators, or an LLM judge vs a
    gold set): raw percent-agreement flatters raters who both say
    "clean" 95% of the time; kappa subtracts the chance-agreement floor
    pe = Σ_c P_a(c)·P_b(c).

    Exact rational surface: po = agree/n and pe = Σ_c na_c·nb_c / n² are
    ratios of BIGINTs, so kappa = (po − pe)/(1 − pe) reduces to

        k_num = n·agree − Σ_c na_c·nb_c
        k_den = n² − Σ_c na_c·nb_c

    — both exact integers (emitted), kappa = ONE division (fixed float
    tree), NULL when k_den = 0 (both raters constant and identical —
    chance agreement is total, kappa undefined). int64 bound: n² < 2⁶³
    → n per group below ~3·10⁹; shard larger groups by time slice.

    Shape: two combinable groupBys — (group, label-pair) agreement
    counts collapse to scalars; per-label marginals meet in ONE
    broadcast-size join on (group, label). Labels are categorical
    (bounded domain) by contract.

    Output: group_cols + (n, agree, k_num, k_den, kappa).
    """
    gs = list(group_cols or [])
    a, b = F.col(rater_a), F.col(rater_b)
    base = df.groupBy(*gs).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a == b).cast("long")).alias("agree"),
    )
    ma = df.groupBy(*gs, a.alias("_c")).agg(F.count(F.lit(1)).alias("_na"))
    mb = df.groupBy(*gs, b.alias("_c")).agg(F.count(F.lit(1)).alias("_nb"))
    pe = (
        ma.join(mb, gs + ["_c"])
        .groupBy(*gs)
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("_chance"))
    )
    j = base.join(pe, gs, "left").withColumn(
        "_chance", F.coalesce("_chance", F.lit(0))
    )
    k_num = F.col("n") * F.col("agree") - F.col("_chance")
    k_den = F.col("n") * F.col("n") - F.col("_chance")
    return j.select(
        *gs, "n", "agree",
        k_num.alias("k_num"),
        k_den.alias("k_den"),
        F.when(k_den != 0, k_num.cast("double") / k_den.cast("double"))
        .alias("kappa"),
    )


# --- Kaplan-Meier survival ----------------------------------------------------------


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kaplan-Meier survival estimator with right censoring — content
    lifetime analysis for the crawl world: "what fraction of pages
    survive k dumps", where a page still live at the last crawl is
    CENSORED, not dead (naively dropping censored rows biases survival
    down; KM is the standard fix). Also user retention, link rot,
    domain churn.

    Exact-integer discipline: at each distinct event time t (ascending)
    the survival multiplies by (n_risk − d)/n_risk; kept as an e6
    scaled-integer with exact floor at EVERY step — S' = (S·(n−d)) div
    n — so the curve is a pure function of the input (a float product
    would drift by evaluation order only in ill-posed engines, but the
    floor chain removes even rounding-mode doubt and gives the oracle a
    recursive-CTE replay). n_risk at t = rows with duration ≥ t
    (computed by cumulative arithmetic, not a scan per t).

    The per-group step sequence is inherently sequential (like
    holt_smooth) and runs as an in-row fold over the sorted distinct
    event times — bounded by |distinct durations| per group (the
    documented contract; quantize durations first when continuous).

    Output: one row per (group, event time): (t, n_risk, n_event,
    surv_e6) — censoring times appear only through n_risk.
    """
    gs = list(group_cols or [])
    d = df.select(
        *[F.col(c) for c in gs],
        F.col(duration_col).cast("long").alias("_t"),
        (F.col(event_col).cast("long") > 0).cast("long").alias("_e"),
    )
    per_t = d.groupBy(*gs, "_t").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_e").alias("_d"),
    )
    totals = d.groupBy(*gs).agg(F.count(F.lit(1)).alias("_tot"))
    w = (
        Window.partitionBy(*[F.col(c) for c in gs]).orderBy("_t")
        if gs
        else Window.partitionBy(F.lit(1)).orderBy("_t")
    )
    # n_risk(t) = total − (rows with duration < t)
    risk = per_t.withColumn(
        "_before",
        F.coalesce(
            F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    ).join(totals, gs) if gs else per_t.withColumn(
        "_before",
        F.coalesce(
            F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ),
    ).crossJoin(totals)
    steps = risk.filter(F.col("_d") > 0).select(
        *gs, "_t", (F.col("_tot") - F.col("_before")).alias("_risk"), "_d"
    )
    arr = steps.groupBy(*gs).agg(
        F.sort_array(
            F.collect_list(F.struct("_t", "_risk", F.col("_d").alias("_dd")))
        ).alias("_a")
    )
    # fold: acc = struct(s, rows array); each step appends its row
    zero = F.struct(
        F.lit(1_000_000).cast("long").alias("s"),
        F.array().cast(
            "array<struct<t:bigint,n_risk:bigint,n_event:bigint,surv_e6:bigint>>"
        ).alias("rows"),
    )

    def step(acc, x):
        s_new = F.expr("0").cast("long") + (
            (acc["s"] * (x["_risk"] - x["_dd"])) - (
                ((acc["s"] * (x["_risk"] - x["_dd"])) % x["_risk"]
                 + x["_risk"]) % x["_risk"]
            )
        )
        # exact floor multiple, then exact division; round() snaps the
        # ulp-level float error when s·n_risk exceeds 2^53 (the quotient
        # is a true integer ≤ scale, so the nearest double to the float
        # quotient is within ~1e-9 of it — never a tie), keeping the
        # bit-exact-replay claim at any n_risk up to int64
        s_new = F.round(s_new / x["_risk"]).cast("long")
        row = F.struct(
            x["_t"].alias("t"),
            x["_risk"].alias("n_risk"),
            x["_dd"].alias("n_event"),
            s_new.alias("surv_e6"),
        )
        return F.struct(
            s_new.alias("s"), F.concat(acc["rows"], F.array(row)).alias("rows")
        )

    folded = arr.select(*gs, F.aggregate("_a", zero, step).alias("_f"))
    return folded.select(*gs, F.explode("_f.rows").alias("_r")).select(
        *gs,
        F.col("_r.t").alias("t"),
        F.col("_r.n_risk").alias("n_risk"),
        F.col("_r.n_event").alias("n_event"),
        F.col("_r.surv_e6").alias("surv_e6"),
    )


# --- Benjamini-Hochberg FDR ---------------------------------------------------------


def bh_fdr(
    df: DataFrame,
    p_e6_col: str,
    q_e6: int = 50_000,
) -> DataFrame:
    """Benjamini-Hochberg FDR control over e6-quantized p-values — the
    multiple-testing gate the spatial-statistics family needs: Gi* /
    Knox / emerging-hotspot screens run one test PER CELL, so at α=0.05
    a 10⁶-cell grid yields 50k false "hotspots" by construction; BH
    keeps the expected false-discovery fraction at q instead.

    ALL-INTEGER: with m tests ranked ascending by p (ties by midpoint-
    free dense position — the largest rank of the tie block, which is
    the conservative BH convention), a test is rejected iff its p ranks
    at or below k* = max{k : p_(k)·m·10⁶ ≤ k·q_e6·10⁶ / ...} — cleared
    of divisions: p_e6·m ≤ k·q_e6 compared as BIGINTs. The cutoff pass
    runs over the DISTINCT-p histogram (the auc_exact discipline), so
    no global row sort; every row then joins its verdict by p value.

    Output: df columns + (bh_rank, m_tests, rejected) — bh_rank the
    tie-block max rank used in the test.
    """
    p = F.col(p_e6_col)
    hist = df.groupBy(p_e6_col).agg(F.count(F.lit(1)).alias("_cnt"))
    whole = Window.partitionBy(F.lit(1))
    ranked = hist.withColumn("_cum", F.sum("_cnt").over(whole.orderBy(p_e6_col)))
    totals = df.agg(F.count(F.lit(1)).alias("_m"))
    r = ranked.crossJoin(totals)
    # candidate: p_(k)·m <= k·q (k = tie-block max rank = _cum)
    r = r.withColumn(
        "_ok", p * F.col("_m") <= F.col("_cum") * F.lit(q_e6)
    )
    kstar = r.withColumn(
        "_kstar",
        F.max(F.when(F.col("_ok"), F.col("_cum")).otherwise(F.lit(0))).over(
            whole.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    ).select(
        p_e6_col,
        F.col("_cum").alias("bh_rank"),
        F.col("_m").alias("m_tests"),
        (F.col("_cum") <= F.col("_kstar")).alias("rejected"),
    )
    return df.join(kstar, p_e6_col)
