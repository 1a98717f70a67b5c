"""The pages generator stays byte-identical to its CASE/format_string form
and keeps the pages_tiles plan JIT-compilable.

`generate_pages` picks hot-city centres and languages from 100-slot literal
tables and builds its text with `concat` and casts. `_case_chain_pages`
below is the earlier form, kept verbatim as the oracle: two 10-branch
`CASE` chains for the centre, a 7-branch chain for the language and
`format_string` for the text. Its fused Range → generate → geocode stage
compiled to a 22,864-byte method (Spark 4.1.2), which HotSpot never
JIT-compiles."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import bench
from pbf2json_spark import pages
from pbf2json_spark.pages import HOT_CENTERS, LANGS, _u
from pbf2json_spark.session import JIT_HUGE_METHOD_BYTES, codegen_method_bytes


def _case_chain_pages(
    spark, n, seed=42, geo_fraction=0.7, hot_fraction=0.6, partitions=None
):
    df = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    rid = F.col("id")
    h = F.xxhash64(rid, F.lit(seed))

    # location: hot cluster vs uniform background
    total_w = sum(w for _, _, w in HOT_CENTERS)
    pick = _u(h, 1) * total_w
    acc = 0.0
    clat, clon = F.lit(None).cast("double"), F.lit(None).cast("double")
    clat_expr = None
    clon_expr = None
    for lat, lon, w in HOT_CENTERS:
        cond = (pick >= acc) & (pick < acc + w)
        clat_expr = F.when(cond, F.lit(lat)) if clat_expr is None else clat_expr.when(cond, F.lit(lat))
        clon_expr = F.when(cond, F.lit(lon)) if clon_expr is None else clon_expr.when(cond, F.lit(lon))
        acc += w
    is_hot = _u(h, 2) < hot_fraction
    lat = F.when(is_hot, clat_expr + (_u(h, 3) - 0.5) * 0.2).otherwise(
        _u(h, 4) * 130.0 - 60.0
    )
    lon = F.when(is_hot, clon_expr + (_u(h, 5) - 0.5) * 0.2).otherwise(
        _u(h, 6) * 360.0 - 180.0
    )
    lat = F.round(lat, 6)
    lon = F.round(lon, 6)

    has_geo = _u(h, 7) < geo_fraction
    geo_snippet = F.format_string("lat=%.6f; lon=%.6f", lat, lon)
    filler = F.format_string(
        "Document %d discusses topic-%d in depth. ", rid, F.pmod(h, F.lit(97))
    )
    text = F.when(
        has_geo,
        F.concat(filler, F.lit("Location: "), geo_snippet, F.lit(". More text follows.")),
    ).otherwise(F.concat(filler, F.lit("No location is mentioned here.")))

    lang_pick = F.pmod(F.xxhash64(rid, F.lit(seed + 1)), F.lit(100))
    acc = 0
    lang_expr = None
    for code, w in LANGS:
        cond = (lang_pick >= acc) & (lang_pick < acc + w)
        lang_expr = (
            F.when(cond, F.lit(code)) if lang_expr is None else lang_expr.when(cond, F.lit(code))
        )
        acc += w
    lang = F.coalesce(lang_expr, F.lit("en"))

    url = F.format_string("https://host%d.example/p/%d", F.pmod(h, F.lit(1000)), rid)
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


N = 20_000
COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.mark.parametrize(
    "seed, geo_fraction, hot_fraction, partitions",
    [
        (1, 0.7, 0.6, None),
        (42, 0.7, 0.6, 16),
        (7, 0.7, 0.6, None),
        (7, 0.3, 0.9, 16),
    ],
)
def test_generate_pages_byte_identical_to_case_chains(
    spark, seed, geo_fraction, hot_fraction, partitions
):
    kw = dict(seed=seed, geo_fraction=geo_fraction, hot_fraction=hot_fraction,
              partitions=partitions)
    got = pages.generate_pages(spark, N, **kw)
    want = _case_chain_pages(spark, N, **kw)
    assert got.columns == COLUMNS and got.schema == want.schema
    # row for row: both read the same Range in the same partition order
    pair = got.withColumn("_i", F.monotonically_increasing_id()).alias("g").join(
        want.withColumn("_i", F.monotonically_increasing_id()).alias("w"), "_i", "full"
    )
    same = F.lit(True)
    for c in COLUMNS:
        same = same & F.col(f"g.{c}").eqNullSafe(F.col(f"w.{c}"))
    row = pair.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum((~same).cast("long")).alias("diff"),
        F.sum(F.col("w.text").contains("Location: ").cast("long")).alias("geo"),
    ).collect()[0]
    assert (row["rows"], row["diff"]) == (N, 0)
    assert 0 < row["geo"] < N  # both text branches are exercised


def test_pages_tiles_plan_fits_jit_limit(spark):
    # bench's pages pipeline is the pages_tiles plan: generate → geocode →
    # lat IS NOT NULL → PIP join on the hot-city rectangles → res-12 tiles
    tiles = bench.build_pages_pipeline(spark, 1000)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sizes = codegen_method_bytes(tiles)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert sizes and max(sizes) < JIT_HUGE_METHOD_BYTES, sizes
