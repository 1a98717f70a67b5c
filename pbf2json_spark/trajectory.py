"""Trajectory operators over (user, ts, lat, lon) event streams: per-user
travel statistics and stay-point (dwell) detection — the geospatial twin
of temporal.sessionize (gaps-and-islands on DISTANCE jumps instead of time
gaps).

Portability discipline (shared with windowed_events): anything SUMMED
across rows is integer-scaled first — floating-point addition is
order-dependent, so a double sum over an unordered group is not
reproducible across engines (or even across partitionings); an int64 sum
is. Distances are therefore accumulated as floor(dist * 1e9) "nano-degree"
steps. Per-row doubles (the step distance itself) stay exact: sub/mul/add/
sqrt are each correctly-rounded IEEE ops over a fixed expression tree.

Shapes at 100 TB: both operators are ONE hash exchange on the user key
followed by window/groupBy work inside the partition — the same cost as
any per-user sessionization; no self-joins, no explode.
"""

from __future__ import annotations

import operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCALE = 1_000_000_000  # nano-degrees: 2^63 / 1e9 ≈ 9e9 degrees of travel per user


def _step_dist(lat: str, lon: str, plat: Column, plon: Column) -> Column:
    dla = F.col(lat) - plat
    dlo = F.col(lon) - plon
    return F.sqrt(dla * dla + dlo * dlo)


def travel_stats(df: DataFrame) -> DataFrame:
    """Per-user trajectory summary: point count, total path length
    (planar degrees, integer-scaled sum), and the longest single step.

    Output: (user, n_points, total_dist_e9:long, max_step_deg:double).
    Rows must have unique (user, ts) for a deterministic order (ties are
    broken by nothing — assert upstream or pre-dedupe).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    plat, plon = F.lag("lat").over(w), F.lag("lon").over(w)
    step = _step_dist("lat", "lon", plat, plon)
    stepped = df.select(
        F.col("user_id"),
        F.when(plat.isNull(), F.lit(0).cast("long"))
        .otherwise(F.floor(step * _SCALE).cast("long"))
        .alias("_step_e9"),
        F.when(plat.isNull(), F.lit(0.0)).otherwise(step).alias("_step"),
    )
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_step_e9").alias("total_dist_e9"),
        F.max("_step").alias("max_step_deg"),
    )


def stay_points(
    df: DataFrame,
    dist_thresh_deg: float,
    min_points: int = 2,
) -> DataFrame:
    """Dwell detection: maximal runs of consecutive points (per user, in
    time order) where every step moves <= dist_thresh_deg; runs with
    >= min_points points are stay-points.

    Output: (user, stay_id, n_points, ts_start, ts_end, lat_min, lat_max,
    lon_min, lon_max) — stay_id numbers the user's runs from 0 in time
    order (including runs later filtered by min_points, so ids are stable
    under threshold changes to min_points). The bbox stands in for a
    centroid because min/max are order-independent (a double-avg centroid
    is not reproducible across partitionings; derive one downstream from
    the bbox or an integer-scaled sum if needed).

    Gaps-and-islands: a step longer than the threshold opens a new run
    (lag + cumsum over the user window), then one groupBy per (user, run).
    Same single-exchange shape as temporal.sessionize.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    plat, plon = F.lag("lat").over(w), F.lag("lon").over(w)
    step = _step_dist("lat", "lon", plat, plon)
    new_run = F.when(
        plat.isNull() | (step > F.lit(dist_thresh_deg)), F.lit(1)
    ).otherwise(F.lit(0))
    runs = df.select(
        F.col("user_id"),
        F.col("ts"),
        F.col("lat"),
        F.col("lon"),
        (F.sum(new_run).over(w) - 1).cast("long").alias("stay_id"),
    )
    return (
        runs.groupBy("user_id", "stay_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("ts").alias("ts_start"),
            F.max("ts").alias("ts_end"),
            F.min("lat").alias("lat_min"),
            F.max("lat").alias("lat_max"),
            F.min("lon").alias("lon_min"),
            F.max("lon").alias("lon_max"),
        )
        .filter(F.col("n_points") >= min_points)
    )


def od_flows(stays: DataFrame, res: int) -> DataFrame:
    """Origin-destination matrix from stay_points output: consecutive
    stays of a user (in ts_start order) form a trip; trips aggregate to
    flows between the grid cells (at `res`) of the stays' bbox midpoints.

    Output: (from_x, from_y, to_x, to_y, n_trips:long). Midpoint =
    ((min+max)/2) per axis — two exact-rounded IEEE ops, so the cell
    assignment (floor/clamp quantize, cells.xy_cols) is engine-portable.

    Shape: ONE window (lag over the user's stays — already a per-user
    frame thousands of times smaller than the raw pings) + ONE
    map-side-combinable groupBy on the 4-part cell key. Nothing about the
    raw trajectory is touched here: stay_points did the heavy single
    exchange; this is analytics on its output.
    """
    from pbf2json_spark import cells

    mid_lat = (F.col("lat_min") + F.col("lat_max")) / F.lit(2.0)
    mid_lon = (F.col("lon_min") + F.col("lon_max")) / F.lit(2.0)
    x, y = cells.xy_cols(mid_lat, mid_lon, res)
    s = stays.select(F.col("user_id"), F.col("ts_start"), x.alias("x"), y.alias("y"))
    w = Window.partitionBy("user_id").orderBy("ts_start")
    t = s.select(
        F.lag("x").over(w).alias("from_x"),
        F.lag("y").over(w).alias("from_y"),
        F.col("x").alias("to_x"),
        F.col("y").alias("to_y"),
    ).filter(F.col("from_x").isNotNull())
    return t.groupBy("from_x", "from_y", "to_x", "to_y").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def geofence_transitions(points: DataFrame, fences: DataFrame) -> DataFrame:
    """Geofence enter/exit detection — the event-generating half of a
    geofencing product ("alert when a device enters the depot"): given
    per-user pings and a set of rectangular fences (fence_id, lat_min,
    lat_max, lon_min, lon_max), emit one row per state CHANGE per
    (user, fence), with the state before the first ping defined as
    outside (so a first ping inside emits an `enter`).

    Shape at 10^12 pings: the fence table is a broadcast nested-loop
    against the pings (fences are product config — tens to thousands of
    rows), the containment test is four Column compares, and the
    transition detection is ONE hash exchange on (user, fence) + a lag
    window. For fence sets too large to broadcast, pre-filter with
    spatial.pip_join's cell cover and feed the survivors here. Pings
    never self-join.

    Precondition: (user_id, ts) is unique (collapse duplicate
    timestamps first, as _traj_events does) — otherwise the lag order,
    hence the transition sequence, is undefined in ANY engine.

    Output: user_id, fence_id, ts, event ('enter' | 'exit').
    """
    inside = (
        F.col("lat").between(F.col("lat_min"), F.col("lat_max"))
        & F.col("lon").between(F.col("lon_min"), F.col("lon_max"))
    )
    flagged = points.crossJoin(F.broadcast(fences)).select(
        F.col("user_id"), F.col("fence_id"), F.col("ts"), inside.alias("_in")
    )
    w = Window.partitionBy("user_id", "fence_id").orderBy("ts")
    prev = F.coalesce(F.lag("_in").over(w), F.lit(False))
    return (
        flagged.withColumn("_prev", prev)
        .filter(F.col("_in") != F.col("_prev"))
        .select(
            F.col("user_id"),
            F.col("fence_id"),
            F.col("ts"),
            F.when(F.col("_in"), F.lit("enter")).otherwise(F.lit("exit")).alias("event"),
        )
    )


def co_location(
    df: DataFrame,
    res: int,
    bucket_us: int,
    max_group: int = 64,
) -> DataFrame:
    """Co-location (contact-graph) pairs: users observed in the SAME grid
    cell at `res` during the SAME time bucket, and how often. The
    primitive under proximity analytics — contact tracing, meeting
    detection, companion mining, multi-account/sockpuppet linking in
    anti-abuse.

    Semantics: a "meeting" is a distinct (cell, bucket) both users have a
    ping in; n_meet counts those, not raw ping pairs (burst pings inside
    one bucket collapse first, so a chatty device doesn't inflate its
    contacts). Buckets are floor(ts_us / bucket_us) on an integer
    microsecond timestamp — tz-free and engine-portable by construction.

    The quadratic truth and the crowd guard: any co-location operator is
    inherently |group|² inside a (cell, bucket) group. Dense groups are
    CROWDS (a stadium cell), not contacts — standard practice (and the
    scale guard) is to drop groups over a size cap before pairing;
    ``max_group`` does exactly that, making the worst-case fan-out
    max_group × rows. The hot groups are found with a combinable count
    and excluded with a semi-join — no sort, no window.

    Shape at 10^12 pings: ONE distinct exchange on (cell, bucket, user)
    [the dedupe], one combinable group-size count + left_semi crowd
    filter, one self-equi-join on (cell, bucket) bounded by max_group,
    one combinable pair count. Ids only in every shuffle.

    Output: (user_a, user_b, n_meet) with user_a < user_b.
    """
    from pbf2json_spark import cells as _cells

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    pts = df.select(
        F.col("user_id").alias("u"),
        x.alias("cx"),
        y.alias("cy"),
        F.floor(F.col("ts_us") / F.lit(bucket_us)).cast("long").alias("bucket"),
    ).distinct()
    key = ["cx", "cy", "bucket"]
    small = (
        pts.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") <= max_group)
        .select(*key)
    )
    pts = pts.join(small, key, "left_semi")
    a = pts.select(F.col("u").alias("user_a"), *key)
    b = pts.select(F.col("u").alias("user_b"), *key)
    return (
        a.join(b, key)
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_meet"))
    )


def radius_of_gyration(df: DataFrame) -> DataFrame:
    """Radius of gyration (squared) per user — the classic mobility
    dispersion metric (Gonzalez et al., "Understanding individual human
    mobility patterns"): mean squared distance of a user's pings from
    their centroid, in planar degree space.

    Exactness discipline: coordinates quantize to integer micro-degrees
    (floor(x * 1e6) — the identical IEEE expression both engines run),
    then rog² comes from the ALGEBRAIC identity

        n·Σx² − (Σx)²  =  n² · Σ(x − mean)² / 1   (per axis, summed)

    evaluated entirely in integer arithmetic: Spark sums in DECIMAL(38,0)
    (a BIGINT sum of e6² terms overflows at ~300 pings), DuckDB sums
    BIGINT into HUGEINT natively, and the final `div n²` brings the value
    back into BIGINT range (bounded by the coordinate span, not the ping
    count). No float accumulation anywhere — the sum order cannot matter.

    Shape at 10^12 pings: ONE map-side-combinable groupBy carrying five
    integer partials per user. No window, no self-join.

    Output: (user_id, n_points, rog2_e12) — squared dispersion in
    squared micro-degrees (1e-12 deg²).
    """
    xi = F.floor(F.col("lat") * F.lit(1.0e6)).cast("long")
    yi = F.floor(F.col("lon") * F.lit(1.0e6)).cast("long")
    agg = (
        df.select(
            F.col("user_id"),
            xi.alias("_x"),
            yi.alias("_y"),
            (xi * xi).cast("decimal(38,0)").alias("_xx"),
            (yi * yi).cast("decimal(38,0)").alias("_yy"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum("_xx").alias("_sxx"),
            F.sum("_yy").alias("_syy"),
        )
    )
    return agg.select(
        "user_id",
        "n_points",
        F.expr(
            "CAST(((n_points * _sxx - CAST(_sx AS DECIMAL(38,0)) * _sx) + "
            "(n_points * _syy - CAST(_sy AS DECIMAL(38,0)) * _sy)) "
            "div (n_points * n_points) AS BIGINT)"
        ).alias("rog2_e12"),
    )


def cell_dwell(df: DataFrame, res: int) -> DataFrame:
    """Per-cell dwell time: the time between consecutive pings of a user
    is attributed to the grid cell of the EARLIER ping (the standard
    last-known-position convention), then aggregated per cell — where do
    people actually SPEND time, as opposed to where pings are dense
    (ping-rate bias cancels because duration, not count, is summed).
    A user's final ping has no successor and contributes no dwell.

    Shape at 10^12 pings: ONE shuffle for the per-user lead() ordered by
    (ts, then cell for total order on burst duplicates), then one
    combinable integer-sum groupBy on the cell key. Integer µs
    throughout — exact in any engine.

    Output: (cx, cy, dwell_us, n_segments, n_users) per occupied cell.
    """
    from pbf2json_spark import cells as _cells

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    pts = df.select(
        F.col("user_id").alias("_u"),
        F.col("ts_us").alias("_ts"),
        x.alias("cx"),
        y.alias("cy"),
    )
    w = Window.partitionBy("_u").orderBy("_ts", "cx", "cy")
    seg = pts.select(
        "_u", "cx", "cy",
        (F.lead("_ts").over(w) - F.col("_ts")).alias("_d"),
    ).filter(F.col("_d").isNotNull())
    return (
        seg.groupBy("cx", "cy")
        .agg(
            F.sum("_d").alias("dwell_us"),
            F.count(F.lit(1)).alias("n_segments"),
            F.countDistinct("_u").alias("n_users"),
        )
    )


def cell_transitions(traj: DataFrame, res: int) -> DataFrame:
    """Cell-transition graph — the spatial twin of
    temporal.markov_transitions: count every consecutive movement
    between DIFFERENT grid cells across all users, row-normalized per
    origin to integer millionths (p_e6 = n · 1e6 div from_total). The
    aggregate movement graph behind flow maps, reachability priors, and
    anomalous-route detection; same-cell dwell steps are excluded (they
    are cell_dwell's subject, and they swamp the diagonal).

    Shape at 10^12 pings: ONE key-partitioned lag window over (cx, cy)
    pairs (the only event-grain shuffle), a combinable 4-key count —
    the matrix is occupied-cell-pairs-sized — and an origin-total
    roll-up of the AGGREGATED frame joined back by origin. No collect,
    no pivot.

    Output: (from_cx, from_cy, to_cx, to_cy, n, p_e6).
    """
    from . import cells as _cells

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    w = Window.partitionBy("user_id").orderBy("ts")
    steps = (
        traj.select(
            F.col("user_id"), F.col("ts"), x.alias("cx"), y.alias("cy")
        )
        .select(
            F.lag("cx").over(w).alias("from_cx"),
            F.lag("cy").over(w).alias("from_cy"),
            F.col("cx").alias("to_cx"),
            F.col("cy").alias("to_cy"),
        )
        .filter(
            F.col("from_cx").isNotNull()
            & ((F.col("from_cx") != F.col("to_cx"))
               | (F.col("from_cy") != F.col("to_cy")))
        )
    )
    n = steps.groupBy("from_cx", "from_cy", "to_cx", "to_cy").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = n.groupBy("from_cx", "from_cy").agg(F.sum("n").alias("_tot"))
    return n.join(tot, ["from_cx", "from_cy"]).select(
        "from_cx", "from_cy", "to_cx", "to_cy", "n",
        F.expr("n * 1000000 div _tot").alias("p_e6"),
    )


def cell_jaccard(
    df: DataFrame,
    res: int,
    min_inter: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Trajectory similarity as visited-cell-set Jaccard: for every pair
    of users sharing at least `min_inter` grid cells at `res`,

        jaccard_e6 = |A∩B| · 1e6 div (|A| + |B| − |A∩B|)

    — the coarse "same places" measure under mirror-account linking,
    carpool detection, and route clustering (exact on integer counts, so
    both engines agree bit-for-bit; the e6 ratio avoids float division).

    Scale guard: pairing is inherently |cell posting list|² per cell.
    ``max_df`` drops cells visited by more users than the cap BEFORE
    pairing (a transit-hub cell links everyone to everyone — that is
    crowd noise, not similarity). Set sizes are computed on the SAME
    thinned cell space so the ratio stays a true Jaccard of the kept
    cells; max_df=None is exact.

    Shape at 10^12 pings: ONE distinct exchange to (user, cell), a
    combinable per-cell df count + semi-join thin, a self-equi-join on
    the cell bounded by max_df, ONE combinable pair count, and two joins
    against the |users|-sized size frame. Ids only in every shuffle —
    intersections count rows, never materializing cell sets.

    Output: (user_a, user_b, n_a, n_b, inter, jaccard_e6), user_a <
    user_b, inter ≥ min_inter.
    """
    from pbf2json_spark import cells as _cells

    from pyspark.sql.window import Window

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    pts = df.select(
        F.col("user_id").alias("u"), x.alias("cx"), y.alias("cy")
    ).distinct()
    if max_df is not None:
        # window-count thin instead of agg + semi-join: one exchange on
        # (cx, cy) — the exact partitioning the self-join needs next — in
        # place of the r3 shape's two extra stages (per-cell agg + join
        # back); measured 8.4 s → ~1.5 s on the sf0.1 gate configuration
        pts = (
            pts.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("cx", "cy"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    # pts feeds BOTH self-join sides and the size agg — pin it so the
    # upstream (scan + distinct + thin) runs once, not 3×
    pts = pts.localCheckpoint(eager=False)
    sizes = pts.groupBy("u").agg(F.count(F.lit(1)).alias("_sz"))
    a = pts.select(F.col("u").alias("user_a"), "cx", "cy")
    b = pts.select(F.col("u").alias("user_b"), "cx", "cy")
    inter = (
        a.join(b, ["cx", "cy"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= min_inter)
    )
    return (
        inter.join(sizes.withColumnRenamed("u", "user_a"), "user_a")
        .withColumnRenamed("_sz", "n_a")
        .join(sizes.withColumnRenamed("u", "user_b"), "user_b")
        .withColumnRenamed("_sz", "n_b")
        .select(
            "user_a", "user_b", "n_a", "n_b", "inter",
            F.expr("inter * 1000000 div (n_a + n_b - inter)")
            .alias("jaccard_e6"),
        )
    )


def gravity_flows(flows: DataFrame) -> DataFrame:
    """Gravity-model screen over an OD flow matrix (od_flows /
    cell_transitions output): the expected flow between two cells is
    proportional to origin outflow × destination inflow, damped by
    squared Chebyshev grid distance —

        expected_e6 = O_i · D_j · 1e6 div (T · (1 + d²))
        lift_e6     = n · T · (1 + d²) · 1e6 div (O_i · D_j)

    lift > 1e6 flags corridors carrying MORE traffic than size+distance
    predicts (commuter pairs, mirror-site sync routes); lift ≪ 1e6 flags
    barriers. All integers (counts, Chebyshev d, e6 ratios) — exact on
    any engine; DECIMAL(38,0) accumulation for the triple products.

    Scale shape: the flow matrix is already aggregated (cells², not
    pings) — two combinable marginal groupBys, two equi-joins back on
    the cell key, one global total broadcast. Nothing rescans points.

    Output: (from_x, from_y, to_x, to_y, n, d_cheb, outflow, inflow,
    expected_e6, lift_e6).
    """
    f = flows.select(
        F.col("from_x").alias("fx"), F.col("from_y").alias("fy"),
        F.col("to_x").alias("tx"), F.col("to_y").alias("ty"),
        F.col("n_trips").cast("long").alias("n"),
    )
    out_m = f.groupBy("fx", "fy").agg(F.sum("n").alias("outflow"))
    in_m = f.groupBy("tx", "ty").agg(F.sum("n").alias("inflow"))
    tot = f.agg(F.sum("n").alias("_t"))
    d38 = "DECIMAL(38,0)"
    j = (
        f.join(out_m, ["fx", "fy"])
        .join(in_m, ["tx", "ty"])
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "d_cheb",
            F.greatest(
                F.abs(F.col("fx") - F.col("tx")),
                F.abs(F.col("fy") - F.col("ty")),
            ).cast("long"),
        )
    )
    return j.select(
        F.col("fx").alias("from_x"), F.col("fy").alias("from_y"),
        F.col("tx").alias("to_x"), F.col("ty").alias("to_y"),
        "n", "d_cheb", "outflow", "inflow",
        F.expr(
            f"CAST(CAST(outflow AS {d38}) * inflow * 1000000 "
            f"div (CAST(_t AS {d38}) * (1 + d_cheb * d_cheb)) AS BIGINT)"
        ).alias("expected_e6"),
        F.expr(
            f"CAST(CAST(n AS {d38}) * _t * (1 + d_cheb * d_cheb) * 1000000 "
            f"div (CAST(outflow AS {d38}) * inflow) AS BIGINT)"
        ).alias("lift_e6"),
    )


# Heading classes: 8 compass octants + 'O' for a zero-length step. The
# split is |dlat| vs |dlon| magnitude comparison first (E/W/N/S halves),
# exact-tie |dlat| == |dlon| goes to the diagonal classes — every branch
# is a comparison of IEEE doubles computed by one subtraction each, so
# the classification is bit-reproducible on any engine (the DuckDB
# oracle repeats the identical CASE ladder).
_HEADING_CASE = (
    "CASE "
    "WHEN {dla} = 0 AND {dlo} = 0 THEN 'O' "
    "WHEN abs({dlo}) > abs({dla}) THEN (CASE WHEN {dlo} > 0 THEN 'E' ELSE 'W' END) "
    "WHEN abs({dla}) > abs({dlo}) THEN (CASE WHEN {dla} > 0 THEN 'N' ELSE 'S' END) "
    "WHEN {dla} > 0 THEN (CASE WHEN {dlo} > 0 THEN 'NE' ELSE 'NW' END) "
    "ELSE (CASE WHEN {dlo} > 0 THEN 'SE' ELSE 'SW' END) END"
)


def heading_mix(df: DataFrame) -> DataFrame:
    """Per-user movement-direction profile: each consecutive step
    classifies into one of 8 compass octants (or 'O' for a stationary
    repeat), and the output counts steps per (user, heading) — the
    directional-bias screen (commuters skew one axis; GPS noise is
    near-uniform; grid-snapped bots pin to pure cardinals).

    The octant comes from sign/magnitude COMPARISONS of (Δlat, Δlon) —
    never atan2 — so it is integer-exact in spirit: subtraction of two
    doubles is one correctly-rounded IEEE op and comparisons of the
    results are deterministic, making the DuckDB oracle (same CASE
    ladder over the same lag window) value-exact. Boundary rule: an
    exact |Δlat| = |Δlon| tie is the diagonal class, a zero component
    with nonzero other is the cardinal class.

    Shape at 10^12 rows: ONE hash exchange on the user key + the lag
    window inside the partition + one map-side-combinable count — the
    same cost envelope as travel_stats/sessionize, no self-joins.

    Output: (user, heading, n_steps). Users with a single point emit
    nothing (no step exists). Rows need unique (user, ts) upstream for a
    deterministic lag order, as with every trajectory operator here.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    plat, plon = F.lag("lat").over(w), F.lag("lon").over(w)
    stepped = df.select(
        F.col("user_id"),
        (F.col("lat") - plat).alias("_dla"),
        (F.col("lon") - plon).alias("_dlo"),
    ).filter(F.col("_dla").isNotNull())
    return (
        stepped.select(
            "user_id",
            F.expr(_HEADING_CASE.format(dla="_dla", dlo="_dlo"))
            .alias("heading"),
        )
        .groupBy("user_id", "heading")
        .agg(F.count(F.lit(1)).alias("n_steps"))
    )


def _banded_pairs(
    df: DataFrame,
    res: int,
    combine,
    out_col: str,
    band: int,
    max_df: int | None,
) -> DataFrame:
    """The banded sequence-alignment DP behind dtw_pairs and frechet_pairs:
    per-user cell sequences, cell_jaccard candidate pairs, and per pair the
    Sakoe-Chiba recurrence cur[c] = combine(cost(r, c), min(prev[c],
    prev[c-1], cur[c-1])) over integer Chebyshev cell cost, emitted as
    `out_col` (-1 when the band cannot align the lengths). Sequences
    keep their first 64 cells."""
    from pyspark.sql.functions import pandas_udf

    from pbf2json_spark import cells as _cells

    x, y = _cells.xy_cols(F.col("lat"), F.col("lon"), res)
    w = Window.partitionBy("_u").orderBy("_ts")
    seqd = df.select(
        F.col("user_id").alias("_u"), F.col("ts").alias("_ts"),
        x.alias("_x"), y.alias("_y"),
    ).select(
        "_u", "_ts", "_x", "_y",
        F.lag("_x").over(w).alias("_px"), F.lag("_y").over(w).alias("_py"),
    ).filter(
        F.col("_px").isNull()
        | (F.col("_x") != F.col("_px")) | (F.col("_y") != F.col("_py"))
    )
    seqs = seqd.groupBy("_u").agg(
        F.slice(
            F.array_sort(F.collect_list(F.struct("_ts", "_x", "_y"))),
            1, 64,
        ).alias("_seq")
    ).select(
        "_u",
        F.col("_seq._x").alias("_xs"), F.col("_seq._y").alias("_ys"),
    )
    pairs = cell_jaccard(df, res, max_df=max_df).select("user_a", "user_b")

    @pandas_udf("long")
    def _align(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series
               ) -> pd.Series:
        out = np.empty(len(xa), dtype=np.int64)
        big = np.int64(2**62)
        for i in range(len(xa)):
            a = np.stack([xa[i], ya[i]], axis=1).astype(np.int64)
            b = np.stack([xb[i], yb[i]], axis=1).astype(np.int64)
            n, m = len(a), len(b)
            if abs(n - m) > band:
                out[i] = -1
                continue
            prev = np.full(m + 1, big)
            # sentinel: the (1, 1) cell combines its cost with 0, which both
            # the sum and the max leave as the cost itself
            prev[0] = 0
            for r in range(1, n + 1):
                cur = np.full(m + 1, big)
                lo, hi = max(1, r - band), min(m, r + band)
                # Chebyshev step cost against row r of a
                seg = np.maximum(
                    np.abs(b[lo - 1:hi, 0] - a[r - 1, 0]),
                    np.abs(b[lo - 1:hi, 1] - a[r - 1, 1]),
                )
                for c in range(lo, hi + 1):
                    best = min(prev[c], prev[c - 1], cur[c - 1])
                    cur[c] = combine(seg[c - lo], best)
                prev = cur
            out[i] = int(prev[m])
        return pd.Series(out)

    a = seqs.select(
        F.col("_u").alias("user_a"),
        F.col("_xs").alias("_xa"), F.col("_ys").alias("_ya"),
    )
    b = seqs.select(
        F.col("_u").alias("user_b"),
        F.col("_xs").alias("_xb"), F.col("_ys").alias("_yb"),
    )
    return (
        pairs.join(a, "user_a").join(b, "user_b")
        .select(
            "user_a", "user_b",
            F.size("_xa").cast("long").alias("len_a"),
            F.size("_xb").cast("long").alias("len_b"),
            _align("_xa", "_ya", "_xb", "_yb").alias(out_col),
        )
    )


def dtw_pairs(
    df: DataFrame,
    res: int,
    band: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Banded Dynamic Time Warping distance between candidate trajectory
    pairs — the ORDER-AWARE refinement of cell_jaccard: two commuters
    visiting the same cells in opposite directions have Jaccard 1 but a
    large DTW; same route, different speeds, aligns to a small DTW. The
    operator Spark lacks natively — DP recurrences aren't relational —
    expressed as candidate generation in DataFrame ops + one vectorized
    Arrow-batched kernel per pair (never a row-at-a-time Python UDF).

    Pipeline: (1) per-user cell sequence at `res` — time-ordered, with
    consecutive repeats collapsed (dwell contributes once), truncated to
    the FIRST 64 cells (deterministic, documented cap); (2)
    candidate pairs from `cell_jaccard` (shared-cell inverted index,
    `max_df` hot-cell guard — never all-pairs); (3) per pair, the
    Sakoe-Chiba banded DTW over integer cell coords with Chebyshev step
    cost — all-integer DP, so the result is engine/partition-exact. Cost
    per pair ≤ 64·(2·band+1) cells, a bounded kernel; sequences
    cross the shuffle as ≤ 64-int arrays, never raw pings. No SQL
    oracle (iterative DP is not relational) — correctness is pytest vs a
    brute-force full-matrix DP.

    Output: (user_a, user_b, len_a, len_b, dtw) with user_a < user_b;
    dtw = banded DTW total (LONG), or -1 when the band cannot align the
    length difference (|len_a − len_b| > band), mirroring the standard
    banded-DTW domain restriction.
    """
    return _banded_pairs(df, res, operator.add, "dtw", band, max_df)


def hausdorff_pairs(traj: DataFrame, pairs: DataFrame) -> DataFrame:
    """Discrete Hausdorff distance between trajectories (or any point
    sets): H(A,B) = max(h(A,B), h(B,A)), h(A,B) = max over p∈A of
    min over q∈B of squared degree distance — the shape-similarity
    metric that, unlike DTW, ignores ordering and sampling rate
    (map-matching QA, route-shape dedup). All sub/mul/min/max — the
    DuckDB oracle is bit-exact.

    `pairs` (a, b) supplies the CANDIDATE pairs — at fleet scale that is
    a cell-overlap prescreen (cell_jaccard's frame), never all user
    pairs; this operator pays |A|·|B| point products ONLY inside a
    candidate pair (the exact metric's intrinsic cost — the DTW band's
    envelope). Shape: two equi-joins on the pair ids, one (pair, point)
    min groupBy, one pair max groupBy; only (id, lat, lon) cross the
    shuffles.

    Output: (a, b, h_ab, h_ba, hausdorff_sq) — directed halves kept for
    asymmetric screens ("A is covered by B").
    """
    t = traj.select(
        F.col("user_id").alias("_u"), F.col("lat").alias("_la"),
        F.col("lon").alias("_lo"),
    )
    p = pairs.select(F.col("a"), F.col("b"))

    def directed(src: str, dst: str, name: str) -> DataFrame:
        pts = (
            p.join(t.withColumnRenamed("_u", src), src)
            .join(
                t.select(
                    F.col("_u").alias(dst), F.col("_la").alias("_qla"),
                    F.col("_lo").alias("_qlo"),
                ),
                dst,
            )
        )
        d = (F.col("_la") - F.col("_qla")) * (F.col("_la") - F.col("_qla")) + (
            F.col("_lo") - F.col("_qlo")
        ) * (F.col("_lo") - F.col("_qlo"))
        inner = pts.groupBy("a", "b", "_la", "_lo").agg(F.min(d).alias("_m"))
        return inner.groupBy("a", "b").agg(F.max("_m").alias(name))

    ab = directed("a", "b", "h_ab")
    ba = directed("b", "a", "h_ba")
    return ab.join(ba, ["a", "b"]).select(
        "a", "b", "h_ab", "h_ba",
        F.greatest("h_ab", "h_ba").alias("hausdorff_sq"),
    )


def frechet_pairs(
    df: DataFrame,
    res: int,
    band: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Banded discrete Fréchet distance between candidate trajectory
    pairs — the ORDER-AWARE bottleneck metric completing the similarity
    family: DTW sums step costs (total alignment effort, dominated by
    long detours), Hausdorff ignores order entirely; Fréchet is the
    MINIMAX — the smallest leash that lets two walkers traverse their
    routes in order (Eiter & Mannila 1994). The one that answers "did
    these two ever diverge by more than d while moving the same way" —
    route-equivalence QA that DTW's sum smears out.

    Runs dtw_pairs' banded kernel with the step combine swapped from sum
    to max — cur[c] = max(cost(r,c), min(prev[c], prev[c-1], cur[c-1])).
    Sequential DP ⇒ no SQL oracle; pytest proves it against a brute
    full-matrix reference plus the metric laws (identity 0, symmetry,
    ≥ per-step lower bound).

    Output: (user_a, user_b, len_a, len_b, frechet) with user_a < user_b;
    frechet = banded discrete Fréchet (LONG, Chebyshev cell units), or
    -1 when the band cannot align the length difference.
    """
    return _banded_pairs(df, res, max, "frechet", band, max_df)
