"""Dictionary / translation / merge / suppression operators (A6, J6, J7, J8, P6).

Reference: toDictionary (pbf2json.go:1072-1132), translateAddress
(1134-1215), mergeSegments (1218-1273), xwayOnly (1059-1068), amenityNames
(78-90), outputValidEntries (489-549).

Spark shapes:
  * the name dictionaries are DataFrames joined by name — broadcast-sized in
    practice (named highways with translations are a sliver of the data);
  * translateAddress = join on street name (unhinted; AQE broadcasts the
    dictionary side at runtime when it is small) + bbox ε-containment
    range predicate + an ordered first-wins tag-fold done entirely with
    higher-order map/array functions (JVM-side, no UDF);
  * mergeSegments = groupBy(name).applyInPandas replicating the reference's
    deterministic per-name greedy scan (per-name groups are tiny; ordering
    relations-then-ways by id mirrors the reference's pass-1/pass-2 append
    order).

Documented divergences: the reference's mergeSegments mutates shared
formattedRelations records in place (aliasing side effect on the main
output); we merge on copies. Its order across *names* is random Go map
order; per-name order (the one that affects results) is deterministic and
reproduced exactly.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pbf2json_spark import dsl
from pbf2json_spark.model import POINT, TAGS

STREET_HIT_DISTANCE = 0.01  # pbf2json.go:20

# static amenity translation dictionary (pbf2json.go:78-90)
AMENITY_NAMES: dict[str, dict[str, str]] = {
    "library": {"fi": "Kirjasto", "en": "Library", "sv": "Bibliotek"},
    "fire_station": {"fi": "Paloasema", "en": "Fire station", "sv": "Brandstation"},
    "university": {"fi": "Yliopisto", "en": "University", "sv": "Universitet"},
    "bus_station": {"fi": "Linja-autoasema", "en": "Bus station", "sv": "Busstationen"},
    "hospital": {"fi": "Sairaala", "en": "Hospital", "sv": "Sjukhus"},
    "clinic": {"fi": "Terveyskeskus", "en": "Medical center", "sv": "Hälsocentral"},
    "police": {"fi": "Poliisiasema", "en": "Police station", "sv": "Polisstation"},
    "townhall": {"fi": "Kaupungintalo", "en": "Town hall", "sv": "Stadshus"},
}


# --- dictionary build (A6) -----------------------------------------------------


def dictionary_names(
    entities: DataFrame,
    names: Iterable[str] = ("name",),
    highways: Iterable[str] | None = None,
) -> DataFrame:
    """Tag-level dictionary classification (toDictionary, pbf2json.go:1072-1132).

    Input: (id, tags) rows (prepared/trimmed) for ways or relations.
    Output: id, street_name (named highway), water_name (named waterway,
    suppressed if the highway branch claimed the row), transl_names
    (array of names this row translates), is_dict.

    `highways` implements the reference's DOCUMENTED `-highways` flag
    behavior (pbf2json.go:171, 226-232, 1076-1081): when a highway-value
    allowlist is given, a way whose highway type is not in the set is
    excluded from the dictionary ENTIRELY (early `return false`,
    go:1080 — no street entry, no translations, and no waterway entry
    either). Default None = filter off. Note the reference's flag is dead
    code in Go (the inner `hwMap :=` at go:227 shadows the outer variable,
    so config.highways is always nil); per SURVEY §2.10 we implement the
    documented behavior behind this flag, default off — divergence
    recorded in COVERAGE.md.
    """
    tags = F.col("tags")
    name_prefix_match = _any_prefix_match(tags, names)

    hw_excluded = F.lit(False)
    if highways is not None:
        hw_excluded = F.map_contains_key(tags, F.lit("highway")) & ~F.element_at(
            tags, F.lit("highway")
        ).isin(*[str(v) for v in highways])

    primary = F.coalesce(
        F.element_at(tags, F.lit("name")),
        F.element_at(tags, F.lit("name:fi")),
        F.element_at(tags, F.lit("name:sv")),
    )
    namefi = F.element_at(tags, F.lit("name:fi"))
    namesv = F.element_at(tags, F.lit("name:sv"))

    is_highway = F.map_contains_key(tags, F.lit("highway"))
    street_name = F.when(is_highway & (F.size(tags) > 0) & ~hw_excluded, primary)

    t_primary = F.when(
        street_name.isNotNull() & name_prefix_match(lambda v: v != primary), primary
    )
    t_fi = F.when(
        street_name.isNotNull()
        & namefi.isNotNull()
        & (namefi != primary)
        & name_prefix_match(lambda v: v != namefi),
        namefi,
    )
    t_sv = F.when(
        street_name.isNotNull()
        & namesv.isNotNull()
        & (namesv != primary)
        & name_prefix_match(lambda v: v != namesv),
        namesv,
    )
    transl_names = F.filter(F.array(t_primary, t_fi, t_sv), lambda x: x.isNotNull())
    is_dict = F.size(transl_names) > 0

    water_name = F.when(
        F.map_contains_key(tags, F.lit("waterway"))
        & (F.size(tags) > 0)
        & ~is_dict  # highway branch claimed the row (early return, go:1117-1120)
        & ~hw_excluded,  # disallowed highway type exits the whole fn (go:1080)
        F.element_at(tags, F.lit("name")),
    )
    return entities.select(
        "id",
        street_name.alias("street_name"),
        water_name.alias("water_name"),
        transl_names.alias("transl_names"),
        is_dict.alias("is_dict"),
    )


def _any_prefix_match(tags: Column, names: Iterable[str]):
    prefixes = list(names)

    def match(val_pred):
        return F.exists(
            F.map_entries(tags),
            lambda e: reduce_or(
                [e["key"].startswith(p) for p in prefixes]
            )
            & val_pred(e["value"]),
        )

    return match


def reduce_or(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


# --- translateAddress (J6 + J7) -------------------------------------------------


# amenity tag key per language (fi → alt_name, go:1147-1151), in the entry
# order the additions take in the output tag map
_AMENITY_KEYS = (("sv", "name:sv"), ("fi", "alt_name"), ("en", "name:en"))


def _amenity_adds(amenity: Column) -> Column:
    """The additions map for an amenity value, NULL for a NULL or unknown
    one: a lookup in AMENITY_NAMES as one literal map<string, map>, the
    reference's in-memory Go map (go:78-90) — no join, no extra pass."""
    entries = []
    for a, langs in AMENITY_NAMES.items():
        adds = [c for lang, key in _AMENITY_KEYS for c in (F.lit(key), F.lit(langs[lang]))]
        entries += [F.lit(a), F.create_map(*adds)]
    return F.element_at(F.create_map(*entries), amenity)


def _first_wins_concat(acc: Column, adds: Column) -> Column:
    """acc + (adds minus keys already in acc) — Go's `if _, ok = tags[k2]; !ok`."""
    return F.map_concat(acc, F.map_filter(adds, lambda k, _: ~F.map_contains_key(acc, k)))


def translation_geometry(
    fmt_ways: DataFrame, fmt_rels: DataFrame | None, dict_df: DataFrame
) -> DataFrame:
    """Join dictionary names to formatted geometry → the build side of the
    translation join: (transl_name, is_way, id, wr_tags, bbox_min, bbox_max).
    Relations come from the pass-1 dictionary, ways from pass-2 — relations
    sort first (reference append order, pbf2json.go:346-402)."""
    entries = dict_df.filter(F.size("transl_names") > 0).select(
        "id", F.explode("transl_names").alias("transl_name")
    )

    def geo_side(fmt: DataFrame, is_way: bool) -> DataFrame:
        return fmt.select(
            "id",
            F.lit(is_way).alias("is_way"),
            F.col("tags").alias("wr_tags"),
            "bbox_min",
            "bbox_max",
        )

    sides = geo_side(fmt_ways, True)
    if fmt_rels is not None:
        sides = sides.unionByName(geo_side(fmt_rels, False))
    return entries.join(sides, "id").select(
        "transl_name", "is_way", "id", "wr_tags", "bbox_min", "bbox_max"
    )


def translate_address(
    rows: DataFrame,
    transl_geo: DataFrame | None,
    names: Iterable[str] = ("name",),
    loc: tuple[str, str] | None = None,
    with_counters: bool = False,
) -> DataFrame:
    """Apply amenity-name injection + street-name translations to output rows
    (translateAddress, pbf2json.go:1134-1215). `rows` must have `tags`, a
    unique `key` column, and a location; `loc` names the (lat, lon) columns —
    default uses centroid.lat/centroid.lon if present, else lat/lon.

    The translation-geometry build side carries no broadcast hint: AQE
    sizes it at runtime — transl_geo is every named way/relation with alt
    names, which is dictionary-sized for one region but unbounded at planet
    scale, so an unconditional hint is not 100 TB-safe. The static amenity
    dictionary (8 entries, go:78-90) is a literal map looked up per row:
    with transl_geo None the plan has no join at all.

    with_counters adds the reference's counters (pbf2json.go:125-127,
    1155, 1193-1207) as per-row columns `_n_amenity`, `_n_trans`,
    `_n_fitrans`: the counters increment once per key ACTUALLY added, and
    the two mechanisms write disjoint key spaces (name:*/alt_name vs
    addr:street:*), so the before/after tag-map diff reproduces them
    exactly."""
    if with_counters:
        rows = rows.withColumn("_tags_pre", F.col("tags"))
    if loc is None:
        loc = ("centroid.lat", "centroid.lon") if "centroid" in rows.columns else ("lat", "lon")
    lat, lon = F.col(loc[0]), F.col(loc[1])

    # J7: amenity static dictionary, first-wins into unused slots; applies to
    # every row with an amenity tag (go:1143-1159 precede the address check)
    adds = _amenity_adds(F.element_at(F.col("tags"), F.lit("amenity")))
    out = rows.withColumn(
        "tags",
        F.when(adds.isNotNull(), _first_wins_concat(F.col("tags"), adds)).otherwise(
            F.col("tags")
        ),
    )

    def _add_counters(df: DataFrame) -> DataFrame:
        if not with_counters:
            return df
        added = F.array_except(
            F.map_keys(F.col("tags")), F.map_keys(F.col("_tags_pre"))
        )
        return (
            df.withColumn(
                "_n_amenity",
                F.size(F.filter(added, lambda k: k.isin("name:en", "name:sv", "alt_name"))),
            )
            .withColumn(
                "_n_trans",
                F.size(F.filter(added, lambda k: k.startswith("addr:street:"))),
            )
            .withColumn(
                "_n_fitrans",
                F.size(F.filter(added, lambda k: k == F.lit("addr:street:fi"))),
            )
            .drop("_tags_pre")
        )

    if transl_geo is None:
        return _add_counters(out)

    street = F.element_at(F.col("tags"), F.lit("addr:street"))
    hnum = F.element_at(F.col("tags"), F.lit("addr:housenumber"))
    has_address = street.isNotNull() & hnum.isNotNull()

    out = out.withColumn("_rk", F.col("id"))
    addressed = out.filter(has_address).select(
        "_rk",
        "tags",
        street.alias("_street"),
        hnum.alias("_hnum"),
        lat.alias("_lat"),
        lon.alias("_lon"),
    )

    prefixes = list(names)
    inside = (
        (F.col("_lat") >= F.col("bbox_min.lat") - STREET_HIT_DISTANCE)
        & (F.col("_lat") <= F.col("bbox_max.lat") + STREET_HIT_DISTANCE)
        & (F.col("_lon") >= F.col("bbox_min.lon") - STREET_HIT_DISTANCE)
        & (F.col("_lon") <= F.col("bbox_max.lon") + STREET_HIT_DISTANCE)
    )

    cands = (
        addressed.join(transl_geo, addressed["_street"] == transl_geo["transl_name"])
        .filter(inside)
        .select("_rk", "_street", "_hnum", "is_way", "id", "wr_tags")
    )

    # per candidate, the additions map in entry order, first-entry-wins:
    # name:<lang> → addr:street:<lang>; other name-prefixed alt keys (value ≠
    # streetname, not containing the housenumber) → addr:street:<namekey>
    def adds_map(wr_tags: Column, street_c: Column, hnum_c: Column) -> Column:
        def entry_key(e):
            k, v = e["key"], e["value"]
            lang_key = F.concat(F.lit("addr:street:"), F.substring(k, 6, 10**6))
            alt_cond = (v != street_c) & ~F.coalesce(
                v.contains(hnum_c), F.lit(False)
            )
            alt_key = None
            for p in prefixes:
                cond = k.startswith(p) & alt_cond
                this = F.when(cond, F.lit(f"addr:street:{p}"))
                alt_key = this if alt_key is None else F.coalesce(alt_key, this)
            return F.when(k.startswith("name:"), lang_key).otherwise(alt_key)

        entries = F.filter(
            F.transform(
                F.map_entries(wr_tags),
                lambda e: F.struct(entry_key(e).alias("key"), e["value"].alias("value")),
            ),
            lambda s: s["key"].isNotNull(),
        )
        # map_from_entries + LAST_WIN on the reversed array = first-entry-wins
        return F.map_from_entries(F.reverse(entries))

    def _cand_cmp(l, r):  # relations first, then by id (reference append order)
        lw, rw = l["is_way"].cast("int"), r["is_way"].cast("int")
        return (
            F.when(lw < rw, -1)
            .when(lw > rw, 1)
            .when(l["id"] < r["id"], -1)
            .when(l["id"] > r["id"], 1)
            .otherwise(0)
        )

    agg = (
        cands.withColumn("_adds", adds_map(F.col("wr_tags"), F.col("_street"), F.col("_hnum")))
        .groupBy("_rk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("is_way", "id", F.col("_adds").alias("adds"))),
                _cand_cmp,
            ).alias("_cands")
        )
    )

    folded = out.join(agg, "_rk", "left").withColumn(
        "tags",
        F.when(
            F.col("_cands").isNotNull(),
            F.aggregate(
                F.col("_cands"),
                F.col("tags"),
                lambda acc, c: _first_wins_concat(acc, c["adds"]),
            ),
        ).otherwise(F.col("tags")),
    )
    return _add_counters(folded.drop("_rk", "_cands"))


# --- xwayOnly suppression (P6) ---------------------------------------------------


def xway_suppress(rows: DataFrame, query: dsl.Query, key: str) -> DataFrame:
    """outputValidEntries highway/waterway handling (pbf2json.go:498-534):
    rows carrying `key` lose it from their printed tags; rows that matched
    ONLY because of `key` are dropped entirely."""
    has = F.map_contains_key("tags", F.lit(key))
    keep = ~has | ~dsl.xway_only(query, F.col("tags"), key)
    return rows.filter(keep).withColumn(
        "tags", F.when(has, dsl.drop_key(F.col("tags"), key)).otherwise(F.col("tags"))
    )


# --- mergeSegments (J8) -----------------------------------------------------------

# rows in one name group above which merge_segments leaves the reference's
# O(n²) greedy scan for the near-linear union-find (_merge_one_name_cc)
MERGE_GREEDY_LIMIT = 20_000

_MERGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("tags", TAGS),
        T.StructField("centroid", POINT),
        T.StructField("bbox_min", POINT),
        T.StructField("bbox_max", POINT),
        T.StructField("merged_ids", T.ArrayType(T.LongType())),
    ]
)


def _merge_one_name(pdf: pd.DataFrame) -> pd.DataFrame:
    """Direct re-expression of mergeSegments' per-name greedy scan
    (pbf2json.go:1218-1273) over one name group. Input rows must be ordered
    relations-first-then-ways, by id within each (the reference's append
    order). Emits one row per component seed with the summed bbox and
    absorbed name:* tags."""
    pdf = pdf.sort_values(["is_way", "id"], kind="mergesort").reset_index(drop=True)
    items = pdf.to_dict("records")
    n = len(items)
    out = []
    current = None
    i1, i2 = 0, n - 1
    while i1 <= i2:
        added = False
        i = i1
        while i <= i2:
            it = items[i]
            if current is None:
                current = {
                    "id": it["id"],
                    "type": it["type"],
                    "tags": dict(it["tags"]),
                    "centroid": it["centroid"],
                    "bbox_min": dict(it["bbox_min"]),
                    "bbox_max": dict(it["bbox_max"]),
                    "merged_ids": [it["id"]],
                }
                out.append(current)
                i1 += 1
            else:
                b1min, b1max = it["bbox_min"], it["bbox_max"]
                cmin, cmax = current["bbox_min"], current["bbox_max"]
                s = STREET_HIT_DISTANCE
                intersects = not (
                    b1min["lat"] > cmax["lat"] + s
                    or b1max["lat"] < cmin["lat"] - s
                    or b1min["lon"] > cmax["lon"] + s
                    or b1max["lon"] < cmin["lon"] - s
                )
                if intersects:
                    added = True
                    cmin["lat"] = min(cmin["lat"], b1min["lat"])
                    cmin["lon"] = min(cmin["lon"], b1min["lon"])
                    cmax["lat"] = max(cmax["lat"], b1max["lat"])
                    cmax["lon"] = max(cmax["lon"], b1max["lon"])
                    for k, v in it["tags"].items():
                        if k.startswith("name:"):
                            current["tags"][k] = v
                    current["merged_ids"].append(it["id"])
                    if i > i1:
                        items[i] = items[i1]
                    i1 += 1
            i += 1
        if not added:
            if current is not None:
                current = None
            else:
                break
    return pd.DataFrame(
        out, columns=["id", "type", "tags", "centroid", "bbox_min", "bbox_max", "merged_ids"]
    )


def _merge_one_name_cc(pdf: pd.DataFrame) -> pd.DataFrame:
    """Near-linear fallback for pathological hot names (a worldwide 'Main
    Street' at 100× scale turns the reference's O(n²) greedy scan into a
    single-task quadratic straggler).

    Components = connected components of the pairwise
    bbox-intersects-with-slack graph (slack = STREET_HIT_DISTANCE), via
    union-find over a shared grid: each bbox expanded by slack/2 is
    assigned to every grid cell it covers and boxes sharing a cell are
    unioned. Two boxes that intersect (with
    slack) share the cell containing a common point, so a true component is
    NEVER split; boxes closer than ~2 cell widths may be over-merged, and
    greedy's growing-bbox absorption can differ near component boundaries —
    a deterministic CC-superset divergence, documented per SURVEY §7 (the
    greedy path up to MERGE_GREEDY_LIMIT is untouched and byte-exact).
    Seed / absorbed-tag / merged_ids ordering is (is_way, id) — the
    reference's scan order."""
    import numpy as np

    pdf = pdf.sort_values(["is_way", "id"], kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    lat0 = np.array([b["lat"] for b in pdf["bbox_min"]], dtype=np.float64)
    lon0 = np.array([b["lon"] for b in pdf["bbox_min"]], dtype=np.float64)
    lat1 = np.array([b["lat"] for b in pdf["bbox_max"]], dtype=np.float64)
    lon1 = np.array([b["lon"] for b in pdf["bbox_max"]], dtype=np.float64)
    h = STREET_HIT_DISTANCE / 2.0
    # cell width: median box extent (≥ slack) keeps cells-per-box ~O(1)
    g = max(
        STREET_HIT_DISTANCE,
        float(np.median(lat1 - lat0)),
        float(np.median(lon1 - lon0)),
    )

    parent = np.arange(n, dtype=np.int64)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:  # path compression
            parent[i], i = root, parent[i]
        return root

    first_in_cell: dict[tuple[int, int], int] = {}
    x0 = np.floor((lon0 - h) / g).astype(np.int64)
    x1 = np.floor((lon1 + h) / g).astype(np.int64)
    y0 = np.floor((lat0 - h) / g).astype(np.int64)
    y1 = np.floor((lat1 + h) / g).astype(np.int64)
    for i in range(n):
        for cx in range(x0[i], x1[i] + 1):
            for cy in range(y0[i], y1[i] + 1):
                key = (cx, cy)
                j = first_in_cell.setdefault(key, i)
                if j != i:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        # union by smaller index → deterministic roots
                        parent[max(ri, rj)] = min(ri, rj)
    comps: dict[int, list[int]] = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)

    items = pdf.to_dict("records")
    out = []
    for root in sorted(comps):
        members = comps[root]  # already in (is_way, id) order
        seed = items[members[0]]
        tags = dict(seed["tags"])
        for m in members[1:]:
            for k, v in items[m]["tags"].items():
                if k.startswith("name:"):
                    tags[k] = v
        out.append(
            {
                "id": seed["id"],
                "type": seed["type"],
                "tags": tags,
                "centroid": seed["centroid"],
                "bbox_min": {
                    "lat": float(lat0[members].min()),
                    "lon": float(lon0[members].min()),
                },
                "bbox_max": {
                    "lat": float(lat1[members].max()),
                    "lon": float(lon1[members].max()),
                },
                "merged_ids": [items[m]["id"] for m in members],
            }
        )
    return pd.DataFrame(
        out, columns=["id", "type", "tags", "centroid", "bbox_min", "bbox_max", "merged_ids"]
    )


def merge_segments(
    dict_df: DataFrame,
    fmt_ways: DataFrame,
    fmt_rels: DataFrame | None,
    name_col: str,
) -> DataFrame:
    """Group same-named segments (streets: name_col='street_name'; waterways:
    'water_name') and merge per name. Only entities that were actually
    formatted participate (the reference can only cacheFetch cached items,
    pbf2json.go:1240-1246). Output: merged rows + merged_ids (the seed id is
    merged_ids[0]). As in the reference, only SEED ids are suppressed from
    the main output (mergedStreets holds seeds only, pbf2json.go:1240); the
    absorbed members still print individually when query-valid.

    Name groups larger than MERGE_GREEDY_LIMIT rows take the near-linear
    union-find path (_merge_one_name_cc) instead of the reference's O(n²)
    greedy scan — the hot-name straggler guard for planet-scale inputs."""
    named = dict_df.filter(F.col(name_col).isNotNull()).select(
        "id", F.col(name_col).alias("name")
    )

    def side(fmt: DataFrame, is_way: bool) -> DataFrame:
        return fmt.select(
            "id", "type", "tags", "centroid", "bbox_min", "bbox_max",
            F.lit(is_way).alias("is_way"),
        )

    sides = side(fmt_ways, True)
    if fmt_rels is not None:
        sides = sides.unionByName(side(fmt_rels, False))
    rows = named.join(sides, "id")

    def dispatch(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > MERGE_GREEDY_LIMIT:
            return _merge_one_name_cc(pdf)
        return _merge_one_name(pdf)

    return rows.groupBy("name").applyInPandas(dispatch, schema=_MERGE_SCHEMA)
