"""Temporal operators: as-of join and gap-based sessionization.

Extension layer for the event/pages tables (the reference is a bounded
batch tool with no time axis; these cover the time-series side of a
training-data pipeline — joining crawl captures to the latest-known state,
segmenting event streams into sessions).

Both operators are single-shuffle window/aggregate plans — never a
range theta join (Spark would plan BroadcastNestedLoopJoin, quadratic at
10^12 rows).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "key",
    tolerance=None,
) -> DataFrame:
    """Backward as-of join: for every left row, attach the LATEST right row
    with the same `by` key and right.ts <= left.ts (ties on ts: right rows
    sort before left rows, so an exactly-simultaneous right row matches).
    Right payload columns come back NULL when no earlier right row exists
    (left-outer semantics). A NULL key or NULL `on` matches nothing, as in
    SQL's ASOF LEFT JOIN: right rows with either are dropped before the
    union, and a left row with either keeps NULL payload. `tolerance` (a
    Column/literal in the same units as `on`, e.g. F.expr("INTERVAL 1
    HOUR")) voids matches older than left.ts - tolerance.

    Shape — the distributed merge-as-of, NOT a range join: union both
    sides tagged, ONE shuffle on `by`, per-key sort by (ts, side), then a
    running `last(right_payload, ignorenulls)` carries each right row
    forward to the left rows it serves. Cost is sort+scan per key —
    shuffle volume is |left| + |right| rows of payload width, zero
    replication (a range-bucketed join would replicate per bucket). The
    per-key sort runs in one task, so a single hot `by` key bounds the
    stage's wall time.

    Determinism: right rows should be unique per (by, on) — when several
    right rows share a timestamp, which one wins depends on sort-tie order.
    Pre-aggregate the right side (as the driver query does) if duplicates
    are possible.
    """
    r_payload = [c for c in right.columns if c not in (on, by)]
    l_cols = left.columns
    rt = right.filter(F.col(by).isNotNull() & F.col(on).isNotNull()).select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(on).alias(f"_r_{on}"), *[F.col(c).alias(c) for c in r_payload]
        ).alias("_rv"),
    )
    lt = left.select(
        F.col(by), F.col(on), F.lit(1).alias("_side"),
        F.lit(None).cast(rt.schema["_rv"].dataType).alias("_rv"),
        F.struct(*[F.col(c) for c in l_cols]).alias("_lv"),
    )
    rt = rt.withColumn("_lv", F.lit(None).cast(lt.schema["_lv"].dataType))

    u = lt.unionByName(rt)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_match", F.last("_rv", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1)
    match = F.col("_match")
    if tolerance is not None:
        match = F.when(
            F.col("_match").isNotNull()
            & (F.col(f"_match._r_{on}") >= F.col(on) - tolerance),
            F.col("_match"),
        )
    return out.select(
        *[F.col(f"_lv.{c}").alias(c) for c in l_cols],
        match[f"_r_{on}"].alias(f"{on}_matched"),
        *[match[c].alias(f"{c}_matched") for c in r_payload],
    )


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessions per key: events closer than `gap` merge into one
    session. Built on F.session_window — the NATIVE operator that runs
    identically over a batch frame and a watermarked stream (state-store
    backed, sessions evicted when the watermark passes), so a backfill and
    the live pipeline share this exact plan.

    Output: key, session_start, session_end (last event + gap, Spark's
    convention), n_events. One shuffle on (key); session
    merging is Spark's built-in state machine, not a Python UDF.
    """
    g = events.groupBy(
        F.session_window(F.col(ts), gap).alias("sw"), F.col(key)
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return g.select(
        F.col(key),
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


def _ntz_epoch_secs(c: Column) -> Column:
    """Whole-second epoch of a TIMESTAMP_NTZ column from its wall-clock
    parts — never consults the session zone (the r2 windowed_events
    portability lesson)."""
    return (
        F.datediff(c.cast("date"), F.lit("1970-01-01").cast("date")).cast("long")
        * 86400
        + F.hour(c).cast("long") * 3600
        + F.minute(c).cast("long") * 60
        + F.second(c).cast("long")
    )


def resample_ffill(
    df: DataFrame,
    step: int = 3600,
    max_buckets: int = 100_000,
) -> DataFrame:
    """Regular-grid resampling with forward fill — turn an irregular
    event series into one observation per `step` seconds per key, carrying
    the last-seen value across gaps (the gap-fill step before any
    rolling-window feature or per-interval diff).

    Semantics per key:
      * bucket = floor(epoch_secs(ts) / step) — tz-free NTZ wall-clock
        epoch, so the grid is engine- and zone-portable.
      * the bucket's observation is the LAST event in it (max ts, ties
        broken by max event_id — a total order, so both engines pick the
        same row); its `value` passes through untouched (no float
        arithmetic → parquet-exact).
      * the grid spans min(bucket)..max(bucket) inclusive; empty buckets
        take the most recent earlier observation (``filled`` marks them).

    Shape at 10^12 rows: one groupBy (key, bucket) with a max_by struct
    (map-side combinable), one sequence()+explode for the grid (factor =
    span/step, guarded by `max_buckets`), one window scan per key for the
    fill — no self-join, no range theta join. Keys are independent, so
    skew is bounded by a single key's span, not the table size.

    Output: user_id, bucket (BIGINT grid index), bucket_start (epoch secs),
    value, filled (boolean).
    """
    b = F.floor(_ntz_epoch_secs(F.col("ts")) / F.lit(step)).cast("long")
    obs = (
        df.select(F.col("user_id"), b.alias("bucket"), F.col("ts"), F.col("event_id"),
                  F.col("value"))
        .groupBy("user_id", "bucket")
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("_v"))
    )
    # obs feeds the guard action, the grid span AND the final join —
    # checkpoint so the (key,bucket) aggregation runs once, not three times
    obs = obs.localCheckpoint(eager=False)
    span = obs.groupBy("user_id").agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    # loud guard, never a silent cap: a span/step blowup is a config error
    # and must fail here, not OOM three stages later or quietly drop the
    # tail of a key's grid. One metadata-scale agg over the per-key spans.
    worst = span.agg(
        F.max(F.col("_hi") - F.col("_lo") + 1).alias("m")
    ).collect()[0]["m"]
    if worst is not None and worst > max_buckets:
        raise ValueError(
            f"resample_ffill: a key spans {worst} buckets at step={step}s "
            f"(max_buckets={max_buckets}); widen step or raise the limit"
        )
    grid = span.select(
        F.col("user_id"),
        F.explode(F.sequence("_lo", "_hi")).alias("bucket"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "bucket"], "left")
        .select(
            F.col("user_id"),
            F.col("bucket"),
            (F.col("bucket") * step).alias("bucket_start"),
            F.last("_v", ignorenulls=True).over(w).alias("value"),
            F.col("_v").isNull().alias("filled"),
        )
    )


def funnel(df: DataFrame, stages: list[str]) -> DataFrame:
    """Ordered funnel analysis: for each user, the earliest time they
    completed stage k AT OR AFTER their earliest completion of stage k-1
    (the standard product-analytics funnel — view -> click -> purchase).
    Simultaneous timestamps count (>=, not >): both engines see the same
    rule, and min() makes each stage time a pure function of the event
    set (no ordering sensitivity).

    Shape at 10^12 events: NO per-user window and NO collect of event
    lists — stage k is one combinable min-aggregation over the stage-k
    events semi-joined to the stage-(k-1) frontier; the type filter pushes
    to the scan, every shuffle carries (user, ts) only, and the number of
    shuffles is len(stages), not events. Degenerate users (bots with 10^6
    events) cost only their own partial aggs.

    Output: (user_id, t1..tk BIGINT epoch-like stage times, NULL once
    the funnel is abandoned, stage_reached) — one row per user who
    completed stage 1.
    """
    u, t = F.col("user_id"), F.col("ts_us")
    out = (
        df.filter(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min(t).alias("t1"))
    )
    for i, s in enumerate(stages[1:], start=2):
        prev = f"t{i - 1}"
        nxt = (
            df.filter(F.col("event_type") == s)
            .select(u.alias("user_id"), t.alias("_ts"))
            .join(out.select("user_id", prev), "user_id")
            .filter(F.col("_ts") >= F.col(prev))
            .groupBy("user_id")
            .agg(F.min("_ts").alias(f"t{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    reached = functools.reduce(
        lambda acc, i: acc + F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0),
        range(2, len(stages) + 1),
        F.lit(1),
    )
    return out.select("user_id", *[f"t{i}" for i in range(1, len(stages) + 1)],
                      reached.cast("int").alias("stage_reached"))


def interval_overlap_join(left: DataFrame, right: DataFrame, chunk: int) -> DataFrame:
    """All (left, right) interval pairs that overlap (closed intervals,
    integer endpoints: a.s <= b.e AND b.s <= a.e) with the overlap span —
    the 1-D temporal analog of bbox_intersect_join (event-in-session
    attribution, ad-impression x visit matching, downtime x deploy
    correlation).

    Shape: each interval explodes to its covering time chunks of width
    `chunk` (sequence/explode, codegen), candidates meet in a hash
    EQUI-join on the chunk id — never an s<=e theta join, which Spark can
    only execute as a broadcast nested loop. A pair overlapping many
    chunks is REPORTED exactly once, in the chunk containing
    max(a.s, b.s) (the reporting-cell rule), so there is no dedup
    exchange. Pick `chunk` near the typical interval length: fan-out per
    row is ~len/chunk + 1, hot chunks are bounded by concurrency, not
    corpus size.

    Expects columns (a_id, s, e) / (b_id, s, e), s <= e, BIGINT.
    Output: (a_id, b_id, ov_s, ov_e, ov_len = ov_e - ov_s).
    """
    def cover(df: DataFrame, idc: str, p: str) -> DataFrame:
        g = df.select(
            F.col(idc).alias(f"{p}id"),
            F.col("s").alias(f"{p}s"),
            F.col("e").alias(f"{p}e"),
            F.explode(
                F.sequence(
                    F.floor(F.col("s") / chunk), F.floor(F.col("e") / chunk)
                )
            ).alias("ck"),
        )
        return g

    a, b = cover(left, "a_id", "a_"), cover(right, "b_id", "b_")
    j = a.join(b, "ck")
    start = F.greatest("a_s", "b_s")
    end = F.least("a_e", "b_e")
    report = F.floor(start / chunk) == F.col("ck")
    return (
        j.filter(report & (start <= end))
        .select(
            F.col("a_id"),
            F.col("b_id"),
            start.alias("ov_s"),
            end.alias("ov_e"),
            (end - start).alias("ov_len"),
        )
    )


def decayed_counts(
    df: DataFrame,
    bucket_us: int,
    half_life_buckets: int = 20,
) -> DataFrame:
    """Exponentially-decayed activity counts per (key, time bucket) — the
    trending-detection primitive: score(key, b) weights the key's events
    in bucket b−h by 2^−h (halving per bucket), over the last
    `half_life_buckets` buckets. A burst just now outranks steady old
    traffic; the classic float EWMA is order-sensitive, this integer
    formulation is exact:

        dec(key, b) = Σ_{h=0..H-1} count(key, b−h) · 2^(H−1−h)

    so the newest bucket carries 2^(H−1), the oldest carries 1 — all
    int64 shifts/sums (count ≤ 2^(63−H) before overflow; H=20 leaves
    2^43 ≈ 8·10^12 events per key-bucket of headroom).

    Shape at 10^12 events: ONE combinable count to (key, bucket) — the
    only pass over raw events — then each aggregated row explodes to the
    ≤ H future buckets it contributes to (sequence/explode, codegen) and
    ONE more combinable sum collapses them. The same scatter-to-window
    trick as focal smoothing, in time instead of space; no window
    function, no per-key sort.

    Output: (key, bucket, dec) for every bucket some contributing
    event exists in the key's trailing window (score-0 buckets with no
    history are not materialized).
    """
    h = half_life_buckets
    per = (
        df.select(
            F.col("key"),
            F.floor(F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("_b"),
        )
        .groupBy("key", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    scatter = per.select(
        "key",
        F.col("_n"),
        F.col("_b").alias("_src"),
        F.explode(F.sequence(F.col("_b"), F.col("_b") + (h - 1))).alias("bucket"),
    )
    return (
        scatter.select(
            "key",
            "bucket",
            F.expr(
                f"shiftleft(_n, {h - 1} - CAST(bucket - _src AS INT))"
            ).alias("_w"),
        )
        .groupBy("key", "bucket")
        .agg(F.sum("_w").alias("dec"))
    )


def markov_transitions(df: DataFrame, tiebreak_col: str | None = None) -> DataFrame:
    """First-order Markov transition matrix over per-key event sequences
    — the behavioral model behind next-action prediction, bot detection
    (impossible transition mass), and session simulation: count every
    consecutive (from → to) event-type pair across all keys, then
    row-normalize to integer-millionth probabilities
    (p_e6 = n · 1e6 div row_total — exact, engine-portable).

    `tiebreak_col` completes the total order when (key, ts) can repeat
    (pass the unique event id); without it, equal-timestamp neighbors
    have engine-dependent order.

    Shape at 10^12 events: ONE key-partitioned lag window (the only
    shuffle of event-grain data, carrying (key, ts, type) only), a
    combinable (from, to) count — the matrix is |types|², tiny — and a
    broadcast-sized row-total join. No collect, no pivot.

    Output: (from_type, to_type, n, p_e6).
    """
    order = [F.col("ts_us")] + (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    w = Window.partitionBy("user_id").orderBy(*order)
    pairs = (
        df.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    row = pairs.groupBy("from_type").agg(F.sum("n").alias("_tot"))
    return pairs.join(F.broadcast(row), "from_type").select(
        "from_type", "to_type", "n",
        F.expr("n * 1000000 div _tot").alias("p_e6"),
    )


def cohort_retention(df: DataFrame, bucket_us: int) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    users are grouped by the time bucket of their FIRST activity (the
    cohort), and for each (cohort, offset) cell we count how many of
    that cohort were active `offset` buckets after joining.
    retention_e6 = n_active · 1e6 div cohort_size (integer-exact; the
    offset-0 cell is the cohort itself, retention_e6 = 1e6).

    Shape at 10^12 events: ONE distinct to (user, bucket) — the only
    event-grain exchange, carrying two int64s — a combinable min for the
    cohort, one id-keyed equi-join of the two (both already hashed by
    user), and a combinable (cohort, offset) count. Cohort sizes are
    bucket-cardinality-scale → broadcast back. No window, no collect.

    Output: (cohort, bucket_offset, n_active, cohort_size,
    retention_e6), cohort in bucket units (floor(ts/bucket_us)),
    bucket_offset in buckets ("offset" itself is an ANSI reserved word —
    an unquoted column of that name breaks portable SQL mirrors).
    """
    active = (
        df.select(
            F.col("user_id").alias("_u"),
            F.floor(F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("_b"),
        )
        .distinct()
    )
    cohort = active.groupBy("_u").agg(F.min("_b").alias("cohort"))
    cells = (
        active.join(cohort, "_u")
        .groupBy("cohort", (F.col("_b") - F.col("cohort")).alias("bucket_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = cohort.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return cells.join(F.broadcast(sizes), "cohort").select(
        "cohort", "bucket_offset", "n_active", "cohort_size",
        F.expr("n_active * 1000000 div cohort_size").alias("retention_e6"),
    )


def type_diversity(df: DataFrame) -> DataFrame:
    """Per-key behavioral diversity via Gini impurity over the key's
    event-type distribution — the bot/spam signal next to Markov
    transition mass: a key doing one thing scores 0, a key spread evenly
    over t types scores (1 − 1/t). Integer-exact:

        gini_e6 = (N² − Σ_i n_i²) · 1e6 div N²

    (entropy needs log → engine-dependent libm floats; Gini is the
    polynomial diversity index, exact in int64 — n_i ≤ 3·10^9 before
    n_i² overflows, far above any real per-key count; keys hotter than
    that are bots you've already found).

    Shape at 10^12 events: two map-side-combinable groupBys — (key,
    type) counts, then per-key moments. No window, no distinct, no join.

    Output: (user_id, n_events, n_types, gini_e6).
    """
    c = df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("_n"))
    return (
        c.groupBy("user_id")
        .agg(
            F.sum("_n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.expr("_n * _n")).alias("_ss"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.expr(
                "(n_events * n_events - _ss) * 1000000 "
                "div (n_events * n_events)"
            ).alias("gini_e6"),
        )
    )


def burst_detect(
    df: DataFrame,
    bucket_us: int,
    window_buckets: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Burst detection per event type: score each (type, bucket) count
    against the type's trailing `window_buckets` buckets —
    burst_e6 = n · W · 1e6 div max(trail_sum, 1), so 1e6 ≈ steady state
    and a cold-start spike (empty trail) scores n · W · 1e6 — monotone
    in the spike size. The integer-lift
    formulation of the z-score burst detector (σ needs sqrt → floats);
    trending detection for crawl scheduling and query-log monitoring.

    Buckets with no events contribute 0 to the trail implicitly: the
    trailing frame is a RANGE window over the integer bucket index of
    the AGGREGATED (type, bucket) frame, so gaps cost nothing and
    nothing is densified.

    Shape at 10^12 events: ONE combinable count to (type, bucket) — the
    only event-grain pass — then a per-type range window over the tiny
    aggregated frame. Types are cardinality-bounded; a degenerate
    single-type stream still windows over buckets-not-events.

    Output: (event_type, bucket, n, trail_sum, burst_e6) for buckets with
    n >= min_count; trail_sum = events in [bucket−W, bucket−1].
    """
    w = window_buckets
    per = (
        df.select(
            F.col("event_type"),
            F.floor(F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trail = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rangeBetween(-w, -1)
    )
    return (
        per.select(
            "event_type", "bucket", "n",
            F.coalesce(F.sum("n").over(trail), F.lit(0).cast("long")).alias("trail_sum"),
        )
        .filter(F.col("n") >= min_count)
        .select(
            "event_type", "bucket", "n", "trail_sum",
            F.expr(
                f"n * {w} * 1000000 div greatest(trail_sum, 1)"
            ).cast("long").alias("burst_e6"),
        )
    )


def periodicity(df: DataFrame, tiebreak_col: str | None = None) -> DataFrame:
    """Per-key inter-arrival periodicity — the classic bot signal next to
    type_diversity and Markov transition mass: humans arrive with messy
    gaps, schedulers arrive on a clock. For each key, the dominant
    inter-arrival gap and its share of all gaps:

        share_e6 = count(top gap) · 1e6 div n_gaps

    (≈1e6 = metronome, small = organic). Tie on count → the SMALLEST gap
    wins (via max over struct(n, −gap) — deterministic, engine-portable).
    `tiebreak_col` (the unique event id) completes the order when
    (key, ts) can repeat.

    Shape at 10^12 events: ONE key-partitioned lag window (the only
    event-grain shuffle, carrying (key, ts) only), then two combinable
    groupBys over (key, gap) — gap cardinality per key is bounded by the
    key's event count, and the second agg is key-grain. No collect.

    Output: (user_id, n_gaps, top_gap, top_n, share_e6); keys with a
    single event (no gaps) are absent.
    """
    order = [F.col("ts_us")] + (
        [F.col(tiebreak_col)] if tiebreak_col is not None else []
    )
    w = Window.partitionBy("user_id").orderBy(*order)
    gaps = (
        df.select(
            F.col("user_id"),
            (F.col("ts_us") - F.lag("ts_us").over(w)).alias("_gap"),
        )
        .filter(F.col("_gap").isNotNull())
        .groupBy("user_id", "_gap")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.sum("_n").alias("n_gaps"),
            F.max(F.struct(F.col("_n").alias("n"),
                           (-F.col("_gap")).alias("ng"))).alias("_w"),
        )
        .select(
            "user_id",
            "n_gaps",
            (-F.col("_w.ng")).alias("top_gap"),
            F.col("_w.n").alias("top_n"),
            F.expr("_w.n * 1000000 div n_gaps").alias("share_e6"),
        )
    )


def cusum_changepoint(df: DataFrame, bucket_us: int, min_buckets: int = 4) -> DataFrame:
    """Single change-point detection per key via the integer CUSUM
    statistic over bucketed counts — "did this type's rate shift, and
    when?": for the key's ordered buckets b_1..b_n with counts c_i and
    prefix sums S_k, the change point maximizes the scaled deviation

        D_k = | n·S_k − k·S_n |        (k = 1..n−1)

    — the classic CUSUM split statistic with the mean factored out,
    kept in int64 (n·S_k ≤ n·total, overflow at ~3·10^9·total — far
    beyond any per-key bucket count; the final ·1e6 product runs in
    DECIMAL(38,0) before the truncating div). Ties on D_k → earliest k
    (via max-struct on (D, −k)). cusum_e6 = D* · 1e6 div (n · S_n)
    normalizes to a 0..~1e6 shift-intensity score (0 = perfectly
    steady), comparable across keys.

    Empty buckets inside the key's [first, last] range count as ZERO —
    they are materialized by a per-key sequence/explode of the bucket
    range (a rate drop to silence IS a change), never by densifying the
    raw event stream.

    Shape at 10^12 events: ONE combinable (key, bucket) count — the only
    event-grain exchange — then per-key windows over the AGGREGATED
    bucket frame (bounded by buckets, not events) and one combinable
    max-struct per key. Keys with fewer than `min_buckets` range buckets
    are dropped (no meaningful split).

    Output: (event_type, n_buckets, total, split_bucket, d_max, cusum_e6)
    where split_bucket = the absolute bucket index of the LAST bucket of
    the left segment at the maximizing split.
    """
    per = (
        df.select(
            F.col("event_type"),
            F.floor(F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("_b"),
        )
        .groupBy("event_type", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    rng = per.groupBy("event_type").agg(
        F.min("_b").alias("_b0"), F.max("_b").alias("_b1")
    )
    dense = (
        rng.select(
            "event_type",
            "_b0",
            F.explode(F.sequence(F.col("_b0"), F.col("_b1"))).alias("_b"),
        )
        .join(per, ["event_type", "_b"], "left")
        .select(
            "event_type", "_b0", "_b",
            F.coalesce("_c", F.lit(0).cast("long")).alias("_c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("_b")
    stats = dense.select(
        "event_type",
        (F.col("_b") - F.col("_b0") + 1).alias("_k"),
        F.col("_b"),
        F.sum("_c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_sk"),
        F.sum("_c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_sn"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_n"),
    )
    cand = stats.filter(
        (F.col("_k") < F.col("_n")) & (F.col("_n") >= min_buckets)
    ).select(
        "event_type", "_n", "_sn", "_b",
        F.expr("abs(_n * _sk - _k * _sn)").alias("_d"),
        F.col("_k"),
    )
    return (
        cand.groupBy("event_type")
        .agg(
            F.max("_n").alias("n_buckets"),
            F.max("_sn").alias("total"),
            F.max(F.struct(F.col("_d").alias("d"),
                           (-F.col("_b")).alias("nb"))).alias("_w"),
        )
        .select(
            "event_type",
            "n_buckets",
            "total",
            (-F.col("_w.nb")).alias("split_bucket"),
            F.col("_w.d").alias("d_max"),
            F.expr(
                "CAST(CAST(_w.d AS DECIMAL(38,0)) * 1000000 div "
                "greatest(n_buckets * total, 1) AS BIGINT)"
            ).alias("cusum_e6"),
        )
    )


def activity_profile(df: DataFrame) -> DataFrame:
    """Hour-of-week activity profile per key — the crawl-scheduling /
    anomaly baseline: for each (key, day-of-week, hour-of-day) slot, the
    event count and its e6 share of the key's total. Day/hour come from
    pure epoch arithmetic (dow: 0=Sunday via (days+4) mod 7; hour:
    (secs div 3600) mod 24) — never the engines' calendar functions,
    whose dow origins disagree (Spark counts Sunday=1, DuckDB Sunday=0).

    Shape at 10^12 events: ONE combinable groupBy to (key, dow, hour) —
    the profile matrix is |keys|·168 — plus a broadcast-scale key-total
    join. No window.

    Output: (event_type, dow, hour, n, share_e6).
    """
    ts = F.col("ts_us")
    days = F.expr("ts_us div 86400000000")
    slot = df.select(
        F.col("event_type"),
        F.pmod(days + 4, F.lit(7)).cast("int").alias("dow"),
        F.expr("(ts_us div 3600000000) % 24").cast("int").alias("hour"),
    )
    n = slot.groupBy("event_type", "dow", "hour").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = n.groupBy("event_type").agg(F.sum("n").alias("_tot"))
    return n.join(F.broadcast(tot), "event_type").select(
        "event_type", "dow", "hour", "n",
        F.expr("n * 1000000 div _tot").alias("share_e6"),
    )


def rolling_active_users(df: DataFrame, window_days: int = 7) -> DataFrame:
    """EXACT rolling distinct actives (the DAU/WAU/MAU family): for every
    epoch day D in the data's range, the number of distinct users active
    on at least one of the `window_days` days ending at D. No sketches,
    no approximation — the trick is that each (user, day) presence fact
    covers exactly `window_days` window-ends, a BOUNDED fan-out:

        presence (distinct user×day) → explode to the ≤ W window-ends it
        covers → count distinct users per window-end.

    Shape at 10^12 events: the presence dedup is a combinable distinct on
    (user, day) — the only pass over raw events; the explode multiplies
    the AGGREGATED presence frame by ≤ W (7 or 30, never data-sized); the
    final count-distinct is Spark's standard two-phase aggregate on
    (day_end, user) pairs. Ids and day integers only in every shuffle.
    A naive window/self-join formulation would instead range-join events
    to days — O(n·W) on raw rows with a theta join; this is O(presence·W)
    on the deduped frame with equi-shuffles only.

    Day buckets come from the NTZ wall-clock epoch (epoch_us div 86400e6,
    never the session zone — the windowed_events portability rule).
    Window-ends past the last active day are clamped off against the
    1-row global max (broadcast). Output: (day_end, active_users), one
    row per day-end from the first active day through the last,
    including days whose activity is entirely carried by the trailing
    window (active that day or not).
    """
    # integer div on the long epoch — double division then truncation can
    # land on k−ε for an exact-midnight k·86400 and bucket a day early
    presence = (
        df.select(
            F.col("user_id").alias("_u"),
            _ntz_epoch_secs(F.col("ts")).alias("_secs"),
        )
        .select("_u", F.expr("_secs div 86400").alias("_d"))
        .distinct()
    )
    mx = presence.agg(F.max("_d").alias("_mx"))
    covered = presence.select(
        "_u",
        F.explode(
            F.sequence(F.col("_d"), F.col("_d") + F.lit(window_days - 1))
        ).alias("day_end"),
    )
    return (
        covered.crossJoin(F.broadcast(mx))
        .filter(F.col("day_end") <= F.col("_mx"))
        .groupBy("day_end")
        .agg(F.countDistinct("_u").alias("active_users"))
    )


def seasonal_naive_eval(
    df: DataFrame,
    series_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Forecast backtest against the SEASONAL-NAIVE baseline with MASE
    (Hyndman & Koehler's scale-free error) — the honesty check every
    traffic/trend forecast needs: a model is only useful if it beats
    "same value as 7 periods ago", and MASE expresses the test
    error in units of that baseline's in-sample error (MASE < 1 beats
    it, scale-free across series of wildly different volume — the web
    corpus case).

    The last 14 day-indices (global cutoff from the max day) are
    the test window; forecast(t) = value(t − 7). GAP-CORRECT by
    construction: the lag is an EQUI-JOIN on (series, day − 7),
    never a row-offset window — a missing day simply contributes no
    term, where lag(row) would silently misalign every series with
    holes (the windowed_events class of bug, avoided by design).
    Error sums are pure BIGINTs; mase is the fixed float tree
    (sae_test/n_test)/(sae_naive/n_naive), NULL when either side is
    empty or the baseline error is 0 (a perfectly periodic series).

    Shape: two self-equi-joins on (series, day) — hash-partitioned,
    combinable aggregates, no sorts, no windows.

    Output: (series, n_test, sae_test, n_naive, sae_naive, mase).
    """
    s = df.select(
        F.col(series_col).alias("k"),
        F.col(day_col).cast("long").alias("d"),
        F.col(value_col).cast("long").alias("v"),
    )
    cutoff = s.agg(F.max("d").alias("m")).select(
        (F.col("m") - F.lit(14) + 1).alias("cut")
    )
    lagged = s.select(
        F.col("k"), (F.col("d") + F.lit(7)).alias("d"), F.col("v").alias("f")
    )
    j = s.join(lagged, ["k", "d"]).crossJoin(F.broadcast(cutoff))
    test = j.filter(F.col("d") >= F.col("cut"))
    train = j.filter(F.col("d") < F.col("cut"))
    t_agg = test.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.abs(F.col("v") - F.col("f"))).alias("sae_test"),
    )
    n_agg = train.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_naive"),
        F.sum(F.abs(F.col("v") - F.col("f"))).alias("sae_naive"),
    )
    out = t_agg.join(n_agg, "k", "full")
    mase = (
        F.col("sae_test").cast("double") / F.col("n_test").cast("double")
    ) / (F.col("sae_naive").cast("double") / F.col("n_naive").cast("double"))
    return out.select(
        F.col("k").alias(series_col),
        F.coalesce("n_test", F.lit(0)).cast("long").alias("n_test"),
        F.coalesce("sae_test", F.lit(0)).cast("long").alias("sae_test"),
        F.coalesce("n_naive", F.lit(0)).cast("long").alias("n_naive"),
        F.coalesce("sae_naive", F.lit(0)).cast("long").alias("sae_naive"),
        F.when(
            (F.col("n_test") > 0) & (F.col("n_naive") > 0) & (F.col("sae_naive") > 0),
            mase,
        ).alias("mase"),
    )


def _lagged_pearson(
    s: DataFrame,
    series_col: str,
    shifts: list[tuple[int, int]],
    var_names: tuple[str, str],
) -> DataFrame:
    """Per (series, lag) Pearson moments of x_t against y_{t+shift} over
    `s` (k, d, x, y): for each (lag, shift) in `shifts`, the pairs come
    from a GAP-CORRECT equi-join on (k, d + shift), then one combinable
    groupBy sums (m, Σx, Σy, Σxy, Σx², Σy²) into the BIGINT numerator
    n·Σxy − ΣxΣy and the two variance terms (named `var_names`); r is
    the fixed cast/multiply/sqrt/divide tree, NULL when either side is
    constant or fewer than 2 pairs matched. One tall union over lags.

    Output: (series, lag, m, s_cov, <var_x>, <var_y>, r).
    """
    outs = []
    for lag, shift in shifts:
        ys = s.select("k", (F.col("d") - F.lit(shift)).alias("d"),
                      F.col("y").alias("_y2"))
        j = s.join(ys, ["k", "d"]).select("k", "x", F.col("_y2").alias("y2"))
        agg = j.groupBy("k").agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("x").alias("_sx"),
            F.sum("y2").alias("_sy"),
            F.sum(F.col("x") * F.col("y2")).alias("_sxy"),
            F.sum(F.col("x") * F.col("x")).alias("_sxx"),
            F.sum(F.col("y2") * F.col("y2")).alias("_syy"),
        )
        cov = F.col("m") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
        vx = F.col("m") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
        vy = F.col("m") * F.col("_syy") - F.col("_sy") * F.col("_sy")
        r = cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double"))
        outs.append(
            agg.select(
                F.col("k").alias(series_col),
                F.lit(lag).cast("long").alias("lag"),
                "m",
                cov.alias("s_cov"),
                vx.alias(var_names[0]),
                vy.alias(var_names[1]),
                F.when((F.col("m") >= 2) & (vx > 0) & (vy > 0), r).alias("r"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def acf_lags(
    df: DataFrame,
    series_col: str,
    day_col: str,
    value_col: str,
    lags: list[int] = (1, 2, 7),
) -> DataFrame:
    """Lag-k autocorrelation per series over an integer day index — the
    periodicity profile behind seasonal-naive forecasting and the
    mann_kendall/periodicity family: r(7) ≈ 1 says weekly structure,
    r(1) ≈ 0 says day-to-day noise.

    Tie-correct, GAP-CORRECT: each lag's pairs come from an EQUI-JOIN on
    (series, day − k) — missing days contribute no pair, where a
    row-offset window lag would silently misalign every series with
    holes (the seasonal_naive_eval discipline). Per (series, lag) the
    Pearson moment set over matched pairs (m, Σa, Σb, Σab, Σa², Σb²)
    reduces to n·Σab − ΣaΣb numerator and two variance terms — ALL
    BIGINT; r itself is the fixed cast/multiply/sqrt/divide tree
    (IEEE-correctly-rounded ops only — the spearman-rho precedent),
    NULL when either side is constant or fewer than 2 pairs matched.

    Shape: one self-equi-join + one combinable groupBy PER LAG over the
    (series, day, value) frame — |lags| is a small constant; unioned
    into a single tall result.

    Output: (series, lag, m, s_cov, s_vara, s_varb, r).
    """
    v = F.col(value_col).cast("long")
    s = df.select(
        F.col(series_col).alias("k"),
        F.col(day_col).cast("long").alias("d"),
        v.alias("x"),
        v.alias("y"),
    )
    # lag k pairs a_t with a_{t−k}
    shifts = [(int(k), -int(k)) for k in lags]
    return _lagged_pearson(s, series_col, shifts, ("s_vara", "s_varb"))


def burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Goh–Barabási burstiness of inter-event gaps per key: B =
    (σ − μ)/(σ + μ) over the gaps between consecutive events — B → −1
    for clockwork periodicity (bots, cron crawlers), ≈ 0 for Poisson
    arrivals (organic traffic), → +1 for heavy-tailed bursts (flash
    crowds, retry storms). The behavioral-fingerprint complement of
    per-key rate level shifts.

    Gaps come from ONE lag window per key ordered by (ts, tiebreak) —
    the tiebreak column makes equal timestamps a total order, so the
    gap multiset is a pure function of the input (the determinism
    contract; every engine sorts the same). Gap moments n, Σg, Σg² are
    BIGINTs (gaps in integer microseconds; Σg² bounds int64 while
    n·gap² < 2⁶³ — quantize to seconds for decade-long spans). B is the
    fixed tree sqrt(n·Σg²−(Σg)²)·? … concretely σ/μ reduce to
    cv = sqrt(n·Σg² − (Σg)²) / Σg (one sqrt, one divide) and
    B = (cv − 1)/(cv + 1) — correctly-rounded ops only (the
    spearman-rho precedent), NULL for keys with < 2 gaps or zero mean.

    Output: (key, n_gaps, sum_gap, sum_gap2, b).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    g = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("_ts"),
            F.col(tiebreak_col).alias("_tb"),
        )
        .withColumn("_prev", F.lag("_ts").over(
            Window.partitionBy("k").orderBy("_ts", "_tb")
        ))
        .filter(F.col("_prev").isNotNull())
        .select("k", (F.col("_ts") - F.col("_prev")).cast("long").alias("_g"))
    )
    # Σg² accumulates in DECIMAL(38,0) (the linear_trend discipline):
    # one hour-long gap in microseconds already squares past int64
    agg = g.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_g").alias("sum_gap"),
        F.sum(F.expr("CAST(_g AS DECIMAL(38,0)) * _g")).alias("sum_gap2"),
    )
    var_n = F.expr(
        "CAST(n_gaps AS DECIMAL(38,0)) * sum_gap2 "
        "- CAST(sum_gap AS DECIMAL(38,0)) * sum_gap"
    )
    cv = F.sqrt(var_n.cast("double")) / F.col("sum_gap").cast("double")
    b = (cv - 1.0) / (cv + 1.0)
    return agg.select(
        F.col("k").alias(key_col), "n_gaps", "sum_gap", "sum_gap2",
        F.when((F.col("n_gaps") >= 2) & (F.col("sum_gap") > 0), b).alias("b"),
    )


def holt_smooth(
    df: DataFrame,
    series_col: str,
    day_col: str,
    value_col: str,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend), EXACT-INTEGER:
    the workhorse short-range forecaster for per-host / per-topic daily
    volumes — one smoothed level and trend per series, extrapolated
    7 steps. α = 300 and β = 100 are e3 fixed-point rationals and every
    recurrence step is floor-division arithmetic on e3-scaled BIGINTs:

        l' = (α·v·1000 + (1000−α)·(l + b)) div 1000
        b' = (β·(l' − l) + (1000−β)·b) div 1000

    (state seeded l₀ = v₀·1000, b₀ = 0) — deterministic, engine-exact;
    a float EWMA would drift by summation order. The recurrence is
    INHERENTLY sequential per series, so the fold runs in-row over the
    day-sorted value array (collect_list + sort_array + aggregate);
    the documented contract is bounded per-series length (daily series
    = thousands of observations — the per-key-imperative case the
    mapInPandas escape hatch exists for, kept as a pure Column fold so
    the oracle can replay it as a recursive CTE instead). Day gaps are
    treated as consecutive observations (the irregular-series EWMA
    convention; resample first for strict calendar smoothing).

    Output: (series, n, level_e3, trend_e3, forecast_e3 = level +
    7·trend).
    """
    s = df.select(
        F.col(series_col).alias("k"),
        F.col(day_col).cast("long").alias("d"),
        F.col(value_col).cast("long").alias("v"),
    )
    arr = s.groupBy("k").agg(
        F.sort_array(F.collect_list(F.struct("d", "v"))).alias("_a")
    )
    a, b1000 = 300, 700
    g, g1000 = 100, 900

    # exact int64 floor-div(num, 1000): subtract the sign-normalized
    # remainder, then divide the now-exact multiple — round() snaps the
    # ulp-level float error (the true quotient is an integer, never a
    # tie), so the result is exact for |quotient| < 2^52, i.e. levels up
    # to ~4.5e18 raw — the full plausible range of e3-scaled counts.
    def _fdiv1000(num):
        m = num - ((num % 1000) + 1000) % 1000
        return F.round(m / 1000).cast("long")

    def step(acc, x):
        l_new = _fdiv1000(
            F.lit(a) * x["v"] * 1000 + F.lit(b1000) * (acc["l"] + acc["b"])
        )
        b_new = _fdiv1000(
            F.lit(g) * (l_new - acc["l"]) + F.lit(g1000) * acc["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    folded = arr.select(
        "k",
        F.size("_a").cast("long").alias("n"),
        F.aggregate(
            F.slice("_a", 2, 1_000_000),
            F.struct(
                (F.element_at("_a", 1)["v"] * 1000).alias("l"),
                F.lit(0).cast("long").alias("b"),
            ),
            step,
        ).alias("_st"),
    )
    return folded.select(
        F.col("k").alias(series_col),
        "n",
        F.col("_st.l").alias("level_e3"),
        F.col("_st.b").alias("trend_e3"),
        (F.col("_st.l") + F.lit(7) * F.col("_st.b")).alias("forecast_e3"),
    )


def ccf_lags(
    df: DataFrame,
    series_col: str,
    day_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Cross-correlation function between two aligned daily series per
    key, lags −max_lag..+max_lag: "does x LEAD y" (positive-lag peak)
    or lag it — the lead-lag screen for causal ordering hypotheses
    (news volume vs search volume, crawl rate vs error rate).

    r(lag) correlates x_t with y_{t+lag}: acf_lags' gap-correct lagged
    Pearson kernel over two series instead of one.

    Output: (series, lag, m, s_cov, s_varx, s_vary, r) — one row per
    key per lag.
    """
    s = df.select(
        F.col(series_col).alias("k"),
        F.col(day_col).cast("long").alias("d"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    shifts = [(lag, lag) for lag in range(-max_lag, max_lag + 1)]
    return _lagged_pearson(s, series_col, shifts, ("s_varx", "s_vary"))


def seq_triples(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    type_col: str,
    min_support: int = 5,
) -> DataFrame:
    """Frequent CONTIGUOUS behavior triples (a → b → c in immediate
    succession within a key's event stream) with support counts — the
    order-3 extension of markov_transitions and the "what do users DO"
    primitive behind funnel design and bot-pattern mining (a bot is a
    loop: view→view→view at clockwork gaps; a buyer is
    view→click→purchase).

    The stream's order is the (ts, tiebreak) TOTAL order per key (the
    burstiness discipline — equal timestamps cannot reorder patterns);
    successors come from two lead() windows over per-key partitions;
    support = distinct KEYS exhibiting the triple (the sequence-mining
    convention — a single user looping 10^6 times is support 1, which
    is exactly what separates bot loops from population behavior; the
    raw occurrence count is emitted alongside).

    Output: (t1, t2, t3, support, occurrences) for triples with
    support >= min_support.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    t = df.select(
        F.col(key_col).alias("_k"),
        F.col(type_col).alias("t1"),
        F.lead(type_col, 1).over(w).alias("t2"),
        F.lead(type_col, 2).over(w).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    agg = t.groupBy("t1", "t2", "t3").agg(
        F.countDistinct("_k").alias("support"),
        F.count(F.lit(1)).alias("occurrences"),
    )
    return agg.filter(F.col("support") >= min_support)
