"""Way→node denormalization — the reference's core join (J1) plus the
bbox / centroid / entrance aggregations that ride on it.

Reference: collectPoints (pbf2json.go:578-591, all-or-nothing node lookup),
expandBBox (749-760), computeCentroid (1295-1319), entranceLookup (634-689),
formatNode/formatWay (722-746, 797-853).

Spark shape: `posexplode(refs)` ⋈ `nodes` on ref=id, then one grouped
aggregation producing the ordered point list, the point count (the
all-or-nothing gate: count == size(refs) — positions, not distinct ids,
since a way may reference the same node twice) and the bbox min/max.
Centroids are computed by ONE Arrow-batched pandas UDF over the ordered
per-way coordinate arrays (batch-vectorized numpy, no per-row Python).

Scale notes (100 TB design point):
  * the refs⋈nodes join is the big shuffle, planned with no hints: AQE
    turns it into a broadcast join at runtime when the node side is small
    and splits skewed partitions otherwise (session.get_spark defaults).
  * only (id, lat, lon) + the 5 entrance-relevant tag values cross the
    shuffle — never the full tag map.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pbf2json_spark import geo
from pbf2json_spark.dsl import trim_tags
from pbf2json_spark.model import POINT

# validateUnit (pbf2json.go:593-612): the trimmed value must fully match
# ^[a-zA-Z][1-9]?$ . (The reference's flat-number-suffix cut at 602-609 is
# dead code: the anchored regex is checked first and only admits 1-2 chars,
# so the >2-char branch is unreachable. We implement the actual behavior.)
UNIT_RE = "^[a-zA-Z]([1-9])?$"


def valid_unit(val: Column) -> Column:
    return F.coalesce(F.trim(val).rlike(UNIT_RE), F.lit(False))


def promote_ref_to_unit(tags: Column) -> Column:
    """formatNode/formatWay address special-case (pbf2json.go:729-738,
    810-818): rows with a full address, no valid addr:unit but a valid `ref`
    get tags['addr:unit'] = trimmed ref."""
    has_address = F.map_contains_key(tags, F.lit("addr:street")) & F.map_contains_key(
        tags, F.lit("addr:housenumber")
    )
    promote = (
        has_address
        & ~valid_unit(F.element_at(tags, F.lit("addr:unit")))
        & valid_unit(F.element_at(tags, F.lit("ref")))
    )
    patched = F.map_concat(
        tags,
        F.create_map(F.lit("addr:unit"), F.trim(F.element_at(tags, F.lit("ref")))),
    )
    return F.when(promote, patched).otherwise(tags)


def prepare_nodes(nodes: DataFrame) -> DataFrame:
    """Trim tags (P5) and apply the ref→addr:unit promotion (P8)."""
    t = promote_ref_to_unit(trim_tags(F.col("tags")))
    return nodes.select("id", "lat", "lon", t.alias("tags"))


def prepare_ways(ways: DataFrame) -> DataFrame:
    t = promote_ref_to_unit(trim_tags(F.col("tags")))
    return ways.select("id", t.alias("tags"), "refs")


# --- the denormalization join -------------------------------------------------

def _node_side_cols(entrance_cols: bool = True) -> list:
    out = ["lat", "lon"]
    if entrance_cols:
        out += [
            F.element_at("tags", F.lit("entrance")).alias("_entrance"),
            F.element_at("tags", F.lit("addr:street")).alias("_n_street"),
            F.element_at("tags", F.lit("addr:housenumber")).alias("_n_hnum"),
            F.element_at("tags", F.lit("ref")).alias("_n_ref"),
            F.element_at("tags", F.lit("addr:unit")).alias("_n_unit"),
        ]
    return out


def denormalize_ways(
    ways: DataFrame,
    nodes: DataFrame,
    entrance_cols: bool = True,
) -> DataFrame:
    """All-or-nothing denorm join. Input: prepared ways/nodes. Output one row
    per fully-resolvable way:

      id, tags, refs, pts array<struct<pos,lat,lon,entrance,n_street,n_hnum,
      n_ref,n_unit>> (ref order), bbox_min, bbox_max

    Ways with any dangling ref are dropped whole (pbf2json.go:585-587).

    entrance_cols=False keeps only (pos, ref, lat, lon) in the per-point
    structs — callers that don't run entrance logic (bbox/centroid-only,
    parity mode, polygon extraction) shrink the shuffled point payload ~3×.
    """
    wn = ways.select(
        F.col("id").alias("way_id"), F.size("refs").alias("n_refs"),
        F.posexplode("refs").alias("pos", "ref"),
    )
    node_side = nodes.select(
        F.col("id").alias("ref"), *_node_side_cols(entrance_cols)
    )
    joined = wn.join(node_side, "ref")

    pt_fields = ["pos", "ref", "lat", "lon"]
    if entrance_cols:
        pt_fields += ["_entrance", "_n_street", "_n_hnum", "_n_ref", "_n_unit"]
    agg = joined.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct(*pt_fields))).alias("pts"),
        F.count(F.lit(1)).alias("_n_found"),
        F.first("n_refs").alias("_n_refs"),
        F.min("lat").alias("_lat_min"),
        F.max("lat").alias("_lat_max"),
        F.min("lon").alias("_lon_min"),
        F.max("lon").alias("_lon_max"),
    )
    return (
        ways.join(agg, ways["id"] == agg["way_id"])
        .filter(F.col("_n_found") == F.col("_n_refs"))
        .select(
            "id",
            "tags",
            "refs",
            "pts",
            F.struct(
                F.col("_lat_min").alias("lat"), F.col("_lon_min").alias("lon")
            ).alias("bbox_min"),
            F.struct(
                F.col("_lat_max").alias("lat"), F.col("_lon_max").alias("lon")
            ).alias("bbox_max"),
        )
    )


# --- centroid pandas UDF -------------------------------------------------------


@F.pandas_udf(POINT)
def centroid_udf(lats: pd.Series, lons: pd.Series) -> pd.DataFrame:
    """computeCentroid (pbf2json.go:1295-1319) over Arrow batches: each row
    carries one way's ordered lat/lon arrays; the whole batch is flattened and
    processed with vectorized numpy (geo.centroids)."""
    counts = lats.map(len).to_numpy(dtype=np.int64)
    if counts.sum() == 0:
        return pd.DataFrame({"lat": [None] * len(lats), "lon": [None] * len(lats)})
    flat_lat = np.concatenate([np.asarray(a, dtype=np.float64) for a in lats])
    flat_lon = np.concatenate([np.asarray(a, dtype=np.float64) for a in lons])
    # geo.centroids requires counts >= 1; empty rows get NaN
    nonzero = counts > 0
    clat = np.full(len(lats), np.nan)
    clon = np.full(len(lats), np.nan)
    clat[nonzero], clon[nonzero] = geo.centroids(flat_lat, flat_lon, counts[nonzero])
    return pd.DataFrame({"lat": clat, "lon": clon})


def computed_centroid(pts: Column) -> Column:
    return centroid_udf(
        F.transform(pts, lambda p: p["lat"]), F.transform(pts, lambda p: p["lon"])
    )


# --- entrance logic (J5 / A5) ---------------------------------------------------


def _address_match(street: Column, hnum: Column, n_street: Column, n_hnum: Column) -> Column:
    """addressMatch (pbf2json.go:614-632): entrance rejected iff the node has
    a conflicting addr:street / addr:housenumber vs the (non-empty) parent's."""
    conflict = (
        n_street.isNotNull() & (street != F.lit("")) & (n_street != street)
    ) | (n_hnum.isNotNull() & (hnum != F.lit("")) & (n_hnum != hnum))
    return ~F.coalesce(conflict, F.lit(False))


def entrance_columns(denorm: DataFrame) -> DataFrame:
    """Adds entrance_pt:struct<lat,lon> + entrance_type to denormalized ways.

    Selection order (entranceLookup, pbf2json.go:634-689):
      * entrance only searched when the way is a building or has a full
        address (formatWay:836-841);
      * parent without street (""): FIRST main entrance wins (early return),
        else LAST minor entrance;
      * parent with street: LAST main entrance wins (assignment in the loop,
        no early return), else LAST minor entrance;
      * candidates must pass addressMatch.
    """
    street = F.coalesce(F.element_at("tags", F.lit("addr:street")), F.lit(""))
    hnum = F.coalesce(F.element_at("tags", F.lit("addr:housenumber")), F.lit(""))
    has_address = F.map_contains_key("tags", F.lit("addr:street")) & F.map_contains_key(
        "tags", F.lit("addr:housenumber")
    )
    eligible = F.map_contains_key("tags", F.lit("building")) | has_address
    w_street = F.when(has_address, street).otherwise(F.lit(""))
    w_hnum = F.when(has_address, hnum).otherwise(F.lit(""))

    cand = F.filter(
        "pts",
        lambda p: (
            p["_entrance"].isin("main", "yes", "staircase", "home")
            & _address_match(w_street, w_hnum, p["_n_street"], p["_n_hnum"])
        ),
    )
    is_main = lambda p: p["_entrance"] == F.lit("main")  # noqa: E731
    mains = F.filter(cand, is_main)
    minors = F.filter(cand, lambda p: ~is_main(p))
    # first main when no street, last main when street, last minor otherwise
    main_pick = F.when(
        w_street == F.lit(""), F.element_at(mains, 1)
    ).otherwise(F.element_at(mains, -1))
    pick = F.when(F.size(mains) > 0, main_pick).otherwise(
        F.when(F.size(minors) > 0, F.element_at(minors, -1))
    )
    pick = F.when(eligible, pick)

    etype = F.when(
        pick.isNotNull(),
        F.when(pick["_entrance"] == "main", F.lit("mainEntrance")).otherwise(
            F.lit("entrance")
        ),
    )
    return denorm.withColumn(
        "entrance_pt",
        F.when(
            pick.isNotNull(),
            F.struct(pick["lat"].alias("lat"), pick["lon"].alias("lon")),
        ),
    ).withColumn("entrance_type", etype)


def derived_entrances(denorm: DataFrame, nodes: DataFrame) -> DataFrame:
    """The reference's context.entrances side-output (pbf2json.go:675-685):
    for ways WITH a street address, every entrance node passing addressMatch
    that has a valid unit ref is re-emitted as an address point — the node's
    full tag map with the parent's street/housenumber filled into missing
    slots and addr:unit set to the validated ref.

    The reference keeps one record per node id, last-writing-way wins with
    nondeterministic map order; we pick the max way id for determinism.
    """
    street = F.element_at("tags", F.lit("addr:street"))
    hnum = F.element_at("tags", F.lit("addr:housenumber"))
    has_address = street.isNotNull() & hnum.isNotNull()
    eligible = F.map_contains_key("tags", F.lit("building")) | has_address

    rows = (
        denorm.filter(eligible & has_address & (street != F.lit("")))
        .select(
            F.col("id").alias("way_id"),
            street.alias("w_street"),
            hnum.alias("w_hnum"),
            F.explode(
                F.filter(
                    "pts",
                    lambda p: p["_entrance"].isin("main", "yes", "staircase", "home")
                    & _address_match(street, hnum, p["_n_street"], p["_n_hnum"]),
                )
            ).alias("p"),
        )
        .withColumn(
            "unit",
            F.when(valid_unit(F.col("p._n_ref")), F.trim("p._n_ref")).otherwise(
                F.when(valid_unit(F.col("p._n_unit")), F.trim("p._n_unit"))
            ),
        )
        .filter(F.col("unit").isNotNull())
    )
    picked = (
        rows.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("p.ref").orderBy(F.desc("way_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("p.ref").alias("id"),
            F.col("p.lat").alias("lat"),
            F.col("p.lon").alias("lon"),
            "w_street",
            "w_hnum",
            "unit",
            "way_id",
        )
    )
    # fetch the node's full tag map and patch it (missing slots only for the
    # address keys; addr:unit always overwritten)
    patched = (
        picked.join(nodes.select(F.col("id"), F.col("tags")), "id")
        .withColumn(
            "tags",
            F.map_concat(
                F.create_map(
                    F.lit("addr:street"), F.col("w_street"),
                    F.lit("addr:housenumber"), F.col("w_hnum"),
                ),
                F.col("tags"),  # node's own values win for the two addr keys
            ),
        )
        .withColumn(
            "tags",
            F.map_concat(
                F.map_filter(F.col("tags"), lambda k, _: k != F.lit("addr:unit")),
                F.create_map(F.lit("addr:unit"), F.col("unit")),
            ),
        )
    )
    return patched.select(
        "id", F.lit("node").alias("type"), "lat", "lon", "tags", "way_id"
    )


# --- formatWay ------------------------------------------------------------------


def format_ways(
    ways: DataFrame,
    nodes: DataFrame,
    with_entrances: bool = True,
) -> DataFrame:
    """Full formatWay (pbf2json.go:797-853): denorm + bbox + entrance-priority
    centroid + _centroidType injection. Inputs must be prepared (trimmed)."""
    d = denormalize_ways(ways, nodes, entrance_cols=with_entrances)
    return format_from_denorm(d, with_entrances=with_entrances)


def format_from_denorm(d: DataFrame, with_entrances: bool = True) -> DataFrame:
    """formatWay given an already-materialized denorm frame (lets the engine
    run the big refs⋈nodes join once and feed both the formatted output and
    the derived-entrance side output).

    Output: id, type='way', tags (with _centroidType), centroid, bbox_min,
    bbox_max, pts (kept for parity output / downstream polygon extraction).
    """
    if with_entrances:
        d = entrance_columns(d)
    else:
        d = d.withColumn(
            "entrance_pt", F.lit(None).cast("struct<lat:double,lon:double>")
        ).withColumn("entrance_type", F.lit(None).cast("string"))

    computed = computed_centroid(F.col("pts"))
    centroid = F.coalesce(F.col("entrance_pt"), computed)
    ctype = F.coalesce(F.col("entrance_type"), F.lit("average"))
    return d.select(
        "id",
        F.lit("way").alias("type"),
        F.map_concat("tags", F.create_map(F.lit("_centroidType"), ctype)).alias("tags"),
        centroid.alias("centroid"),
        "bbox_min",
        "bbox_max",
        F.transform(
            "pts", lambda p: F.struct(p["lat"].alias("lat"), p["lon"].alias("lon"))
        ).alias("pts"),
    )
