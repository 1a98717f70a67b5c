"""Synthetic Common-Crawl-style `pages` table + geocode extraction.

Input shape per BASELINE.json input_hint: (url:string, warc_ts:timestamp,
html:binary, text:string, lang:string). The generator is fully deterministic
(pure Column expressions of the row id seeded through xxhash64 — no Python,
no RNG state), so the same (n, seed) always yields byte-identical text per
url — the pipeline invariant the tests assert.

Geo distribution: a mixture of hot city clusters (forces cell skew — the
AQE skew-join test bed) and a uniform background; a configurable fraction
of pages embeds machine-readable coordinates in `text` ("lat=..; lon=..")
for the geocode step.

Geocoding (north_star: "pages are geocoded (lat/lon extracted from text)"):
  * `geocode` — pure JVM `regexp_extract`, the default hot path (stays in
    WholeStageCodegen);
  * `geocode_arrow` — the vectorized Arrow/pandas-UDF variant mandated by
    input_hint; tests assert both agree exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (lat, lon, weight) — a few heavy hitters on purpose
HOT_CENTERS = [
    (60.17, 24.94, 30),   # Helsinki — deliberately dominant
    (40.71, -74.01, 20),  # NYC
    (51.51, -0.13, 15),   # London
    (35.68, 139.69, 10),  # Tokyo
    (-33.87, 151.21, 8),  # Sydney
    (49.25, -123.10, 7),  # Vancouver (the reference's fixture city)
    (48.86, 2.35, 5),
    (55.76, 37.62, 3),
    (1.35, 103.82, 1),
    (-23.55, -46.63, 1),
]

LANGS = [("en", 55), ("fi", 15), ("sv", 10), ("de", 8), ("fr", 6), ("ja", 4), ("zz", 2)]

GEO_RE = r"lat=(-?\d+\.\d{6}); lon=(-?\d+\.\d{6})"
_U_MOD = 1_000_003  # modulus of the hash-derived uniforms


def _u(h: Column, salt: int) -> Column:
    """Deterministic uniform in [0,1) derived from a hash column."""
    return (F.pmod(F.xxhash64(h, F.lit(salt)), F.lit(_U_MOD)) / F.lit(float(_U_MOD)))


# Integer weights summing to 100 turn each weighted pick into an index: a
# draw x in [0, 100) lies in [acc, acc + w) exactly when floor(x) does.
assert all(type(w) is int and w > 0 for *_, w in HOT_CENTERS + LANGS)
assert sum(w for *_, w in HOT_CENTERS) == sum(w for _, w in LANGS) == 100


def _pick(values: tuple, weights: tuple[int, ...], x: Column) -> Column:
    """The value whose cumulative-weight interval holds x in [0, 100), read
    from a 100-slot literal array holding each value `weight` times."""
    slots = F.array(*[F.lit(v) for v, w in zip(values, weights) for _ in range(w)])
    return F.element_at(slots, (F.floor(x) + 1).cast("int"))


def _fixed6(x: Column) -> Column:
    """x, already rounded to 6 places, printed as Java's "%.6f" prints it."""
    return x.cast("decimal(9,6)").cast("string")


def generate_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    geo_fraction: float = 0.7,
    hot_fraction: float = 0.6,
    partitions: int | None = None,
) -> DataFrame:
    """`n` synthetic pages; a pure function of (n, seed, fractions).

    Weighted picks read 100-slot literal tables and the text is built with
    `concat` and casts, not `CASE` chains or `format_string`: the fused
    Range → generate → geocode stage then keeps every generated method
    under HotSpot's 8,000-byte JIT limit (`DontCompileHugeMethods`) and
    runs compiled instead of in the bytecode interpreter
    (tests/test_pages_codegen.py holds the limit and the former
    expressions as the byte-identity oracle)."""
    df = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    rid = F.col("id")
    h = F.xxhash64(rid, F.lit(seed))

    # location: hot cluster vs uniform background
    lats, lons, weights = zip(*HOT_CENTERS)
    pick = _u(h, 1) * 100
    is_hot = _u(h, 2) < hot_fraction
    lat = F.when(is_hot, _pick(lats, weights, pick) + (_u(h, 3) - 0.5) * 0.2).otherwise(
        _u(h, 4) * 130.0 - 60.0
    )
    lon = F.when(is_hot, _pick(lons, weights, pick) + (_u(h, 5) - 0.5) * 0.2).otherwise(
        _u(h, 6) * 360.0 - 180.0
    )
    lat = F.round(lat, 6)
    lon = F.round(lon, 6)

    has_geo = _u(h, 7) < geo_fraction
    # concat_ws(""), not concat: like format_string it is never null even
    # over nullable parts (pmod, casts), so url and text stay non-nullable
    geo_snippet = F.concat_ws("", F.lit("lat="), _fixed6(lat), F.lit("; lon="), _fixed6(lon))
    filler = F.concat_ws(
        "",
        F.lit("Document "), rid.cast("string"),
        F.lit(" discusses topic-"), F.pmod(h, F.lit(97)).cast("string"),
        F.lit(" in depth. "),
    )
    text = F.when(
        has_geo,
        F.concat(filler, F.lit("Location: "), geo_snippet, F.lit(". More text follows.")),
    ).otherwise(F.concat(filler, F.lit("No location is mentioned here.")))

    codes, lang_weights = zip(*LANGS)
    lang = _pick(codes, lang_weights, F.pmod(F.xxhash64(rid, F.lit(seed + 1)), F.lit(100)))

    url = F.concat_ws(
        "",
        F.lit("https://host"), F.pmod(h, F.lit(1000)).cast("string"),
        F.lit(".example/p/"), rid.cast("string"),
    )
    warc_ts = F.timestamp_seconds(F.lit(1_600_000_000) + rid % F.lit(86_400 * 365))
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "utf-8"
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def city_polygons(spark: SparkSession) -> DataFrame:
    """One 0.3°-square polygon around each HOT_CENTERS city: the polygon
    set the generated pages are joined against."""
    d = 0.15
    rows = [
        {
            "polygon_id": i,
            "ring": [
                {"lat": lat - d, "lon": lon - d},
                {"lat": lat - d, "lon": lon + d},
                {"lat": lat + d, "lon": lon + d},
                {"lat": lat + d, "lon": lon - d},
                {"lat": lat - d, "lon": lon - d},
            ],
        }
        for i, (lat, lon, _w) in enumerate(HOT_CENTERS)
    ]
    return spark.createDataFrame(
        rows, "polygon_id long, ring array<struct<lat:double,lon:double>>"
    )


# --- text extraction -------------------------------------------------------------


# Java-regex AND RE2 compatible (no backreferences) so the DuckDB oracle can
# run the identical patterns: script/style handled as two separate literals.
_SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
_STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
_TAG_RE = r"<[^>]*>"
# &amp; deliberately last so "&amp;lt;" decodes to "&lt;" not "<".
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def extract_text(pages: DataFrame) -> DataFrame:
    """HTML → text extraction, pure JVM (stays in WholeStageCodegen).

    Closes the input_hint per-row invariant literally: "byte-identical
    extracted text per url" — extraction is a pure function of the html
    bytes (UTF-8 decode → drop <script>/<style> blocks → strip tags →
    decode the five XML entities), so the same bytes produce the same text
    on any executor, any partitioning, any cluster size. Round-trips the
    generator: extract_text(generate_pages(...).html) == text, byte-equal
    (tests/test_webscale.py)."""
    s = F.decode(F.col("html"), "utf-8")
    s = F.regexp_replace(s, _SCRIPT_RE, "")
    s = F.regexp_replace(s, _STYLE_RE, "")
    s = F.regexp_replace(s, _TAG_RE, "")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return pages.withColumn("text_extracted", s)


# --- geocode -------------------------------------------------------------------


def geocode(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """JVM-side geocode: adds nullable lat/lon extracted from the text.

    Two grouped regexp_extract calls, and the executed plan runs both:
    common-subexpression elimination shares each group's match only
    between its `= ''` test and its cast (PLANS.md). An interleaved A/B
    measured a hand-rolled single-regex + substring_index variant ~3%
    SLOWER — the regex is not the bottleneck here. A caller's
    `lat IS NOT NULL` filter is pushed below this projection and runs a
    third match; over `generate_pages` it also recomputes the text."""
    t = F.col(text_col)
    lat = F.nullif(F.regexp_extract(t, GEO_RE, 1), F.lit("")).cast("double")
    lon = F.nullif(F.regexp_extract(t, GEO_RE, 2), F.lit("")).cast("double")
    return pages.withColumn("lat", lat).withColumn("lon", lon)


_GEOCODE_SCHEMA = T.StructType(
    [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
)


@F.pandas_udf(_GEOCODE_SCHEMA)
def _geocode_udf(text: pd.Series) -> pd.DataFrame:
    ext = text.str.extract(GEO_RE)
    return pd.DataFrame(
        {"lat": pd.to_numeric(ext[0], errors="coerce"),
         "lon": pd.to_numeric(ext[1], errors="coerce")}
    )


def geocode_arrow(pages: DataFrame) -> DataFrame:
    """Arrow-batched pandas-UDF geocode (input_hint-mandated variant)."""
    g = _geocode_udf(F.col("text"))
    return pages.withColumn("lat", g["lat"]).withColumn("lon", g["lon"])


def toponym_resolve(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Gazetteer toponym disambiguation — the second stage of geoparsing
    (after `geocode`'s literal lat/lon extraction): every (doc, place-name)
    mention is resolved to ONE gazetteer entry even when the name is
    ambiguous ("Paris" the capital vs. "Paris, Texas").

    Two classic signals, combined deterministically:

    * **spatial coherence** — a document's UNAMBIGUOUS mentions (names with
      exactly one gazetteer row) vote for a region; ambiguous names pick
      the candidate nearest that anchor point (planar L1 distance on
      integer microdegrees; no longitude wrap — gazetteers are bounded
      synthetic regions here, and a wrapped variant would only change the
      distance term).
    * **population prior** — with no anchors in the doc (or to break exact
      distance ties), the most populous candidate wins; final tie-break is
      the smallest ``place_id``, so the output is a pure function of the
      input (re-run / re-partition / cross-engine stable).

    Exactness discipline: the anchor point is the per-doc MEAN of the
    unambiguous coordinates — kept as the exact rational (sum, n) pair, so
    the candidate distance is compared as ``|lat*n - sum_lat| + |lon*n -
    sum_lon|`` — all BIGINT, no division, bit-exact in any engine.

    Plan shape at 10^12 mentions: the gazetteer is a metadata-scale dim →
    its name-ambiguity census is a broadcast; candidates = mentions ⋈
    gazetteer broadcast equi-join on name; anchors = ONE map-side-
    combinable groupBy(doc) over the unambiguous subset (slim integer
    payload); candidates ⋈ anchors is a hash join on doc (AQE-splittable if
    one doc mentions everything); the final per-(doc,name) pick is a
    struct-MIN groupBy — map-side combinable, never a window sort.

    Reference analog: pbf2json's tag dictionaries map raw OSM names to
    display names one-to-one (enrich.py J6/J7 citations); this operator is
    the web-scale generalization where the mapping is one-to-MANY and the
    engine must pick.

    Output: one row per distinct (doc, name): doc, name, place_id, lat_e6,
    lon_e6, method ('unique' | 'coherence' | 'prior').
    """
    d, nm = F.col("doc_id"), F.col("name")

    # name → candidate count (metadata-scale census on the dim itself)
    ncand = gazetteer.groupBy("name").agg(F.count(F.lit(1)).alias("_ncand"))
    gaz = gazetteer.join(F.broadcast(ncand), "name")

    men = mentions.select("doc_id", "name").distinct()
    cand = men.join(F.broadcast(gaz), "name")

    # per-doc anchor: exact rational mean of unambiguous mention coords
    anchors = (
        cand.filter(F.col("_ncand") == 1)
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("lat_e6")).alias("_alat"),
            F.sum(F.col("lon_e6")).alias("_alon"),
            F.count(F.lit(1)).alias("_an"),
        )
    )
    c = cand.join(anchors, "doc_id", "left")

    # |lat*n - sum| + |lon*n - sum|, scaled-by-n exact integer L1; docs
    # with no anchor rank all candidates at distance 0 (prior decides)
    dist = F.when(
        F.col("_an").isNotNull(),
        F.abs(F.col("lat_e6") * F.col("_an") - F.col("_alat"))
        + F.abs(F.col("lon_e6") * F.col("_an") - F.col("_alon")),
    ).otherwise(F.lit(0)).cast("long")

    pick = F.struct(
        dist.alias("d"),
        (-F.col("population").cast("long")).alias("negpop"),
        F.col("place_id").cast("long").alias("pid"),
        F.col("lat_e6").cast("long").alias("plat"),
        F.col("lon_e6").cast("long").alias("plon"),
        F.col("_ncand").alias("nc"),
        F.col("_an").alias("an"),
    )
    best = (
        c.groupBy("doc_id", "name")
        .agg(F.min(pick).alias("_b"))
        .select(
            d,
            nm,
            F.col("_b.pid").alias("place_id"),
            F.col("_b.plat").alias("lat_e6"),
            F.col("_b.plon").alias("lon_e6"),
            F.when(F.col("_b.nc") == 1, F.lit("unique"))
            .when(F.col("_b.an").isNotNull(), F.lit("coherence"))
            .otherwise(F.lit("prior"))
            .alias("method"),
        )
    )
    return best
