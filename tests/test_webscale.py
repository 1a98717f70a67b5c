"""North-star layer tests: deterministic pages, geocode (JVM vs Arrow UDF),
PIP join vs brute force, kNN vs brute force, tile aggregation + rollup."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from pbf2json_spark import cells, geo, pages, spatial


@pytest.fixture(scope="module")
def pages_df(spark):
    return pages.generate_pages(spark, 2000, seed=42).cache()


def test_pages_deterministic_and_text_invariant(spark, pages_df):
    again = pages.generate_pages(spark, 2000, seed=42)
    a = pages_df.select("url", "text").orderBy("url").collect()
    b = again.select("url", "text").orderBy("url").collect()
    assert a == b  # byte-identical text per url
    assert pages_df.select("url").distinct().count() == 2000


def test_pages_schema_and_langs(pages_df):
    assert [f.name for f in pages_df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"
    ]
    langs = {r["lang"] for r in pages_df.select("lang").distinct().collect()}
    assert "en" in langs and len(langs) >= 4
    # html embeds the text bytes
    row = pages_df.first()
    assert row["text"].encode() in bytes(row["html"])


def test_extract_text_roundtrip_byte_identical(pages_df):
    # input_hint invariant: byte-identical extracted text per url
    got = (
        pages.extract_text(pages_df)
        .select("url", "text", "text_extracted")
        .collect()
    )
    assert len(got) == 2000
    for r in got:
        assert r["text_extracted"] == r["text"]


def test_extract_text_strips_blocks_and_entities(spark):
    html = (
        '<html><head><style media="x">p{color:red}</style>'
        '<SCRIPT type="t">var a = "<p>not text</p>";</SCRIPT></head>'
        "<body><p>keep &lt;this&gt; &amp;amp; &quot;that&quot; &#39;too&#39;</p></body></html>"
    )
    df = spark.createDataFrame([("u", html.encode())], "url string, html binary")
    out = pages.extract_text(df).collect()[0]["text_extracted"]
    # script/style bodies dropped (case-insensitive), tags stripped, the five
    # entities decoded with &amp; last ("&amp;amp;" -> "&amp;", not "&")
    assert out == 'keep <this> &amp; "that" \'too\''


def test_geocode_over_extracted_text_matches_original(pages_df):
    # raw-html ingestion path: html → extract_text → geocode must equal
    # geocode over the stored text column
    ext = pages.extract_text(pages_df)
    a = pages.geocode(ext, text_col="text_extracted").select("url", "lat", "lon").orderBy("url").collect()
    b = pages.geocode(pages_df).select("url", "lat", "lon").orderBy("url").collect()
    assert a == b


def test_geocode_jvm_matches_arrow(pages_df):
    a = pages.geocode(pages_df).select("url", "lat", "lon").orderBy("url").collect()
    b = pages.geocode_arrow(pages_df).select("url", "lat", "lon").orderBy("url").collect()
    assert a == b
    got = [r for r in a if r["lat"] is not None]
    assert 0.6 < len(got) / len(a) < 0.8  # geo_fraction=0.7
    # extracted coords match what the text embeds, 6dp
    for r in got[:50]:
        assert -90 <= r["lat"] <= 90 and -180 <= r["lon"] <= 180


SQ = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0)]
CONCAVE = [(2.0, 2.0), (2.0, 4.0), (3.0, 4.0), (3.0, 3.0), (4.0, 3.0), (4.0, 2.0), (2.0, 2.0)]


@pytest.fixture(scope="module")
def pip_setup(spark):
    rng = np.random.default_rng(9)
    lats = rng.uniform(-1.0, 5.0, 800)
    lons = rng.uniform(-1.0, 5.0, 800)
    pts = spark.createDataFrame(
        [(i, float(lats[i]), float(lons[i])) for i in range(800)],
        "point_id long, lat double, lon double",
    )
    polys = spark.createDataFrame(
        [
            (1, {"leisure": "dog_park"}, [{"lat": a, "lon": o} for a, o in SQ]),
            (2, {"leisure": "dog_park"}, [{"lat": a, "lon": o} for a, o in CONCAVE]),
        ],
        "polygon_id long, tags map<string,string>, "
        "ring array<struct<lat:double,lon:double>>",
    )
    return pts, polys, lats, lons


def brute_pip(lats, lons, ring):
    rl = np.array([p[0] for p in ring])
    ro = np.array([p[1] for p in ring])
    return geo.points_in_ring(lats, lons, rl, ro)


def test_pip_join_matches_bruteforce(pip_setup):
    pts, polys, lats, lons = pip_setup
    for res in (None, 4, 8):
        got = spatial.point_in_polygon_join(pts, polys, res=res)
        pairs = {(r["point_id"], r["polygon_id"]) for r in got.collect()}
        exp = set()
        for pid, ring in ((1, SQ), (2, CONCAVE)):
            inside = brute_pip(lats, lons, ring)
            exp |= {(i, pid) for i in np.nonzero(inside)[0]}
        assert pairs == exp, f"res={res}"


def test_knn_matches_bruteforce(spark):
    rng = np.random.default_rng(13)
    plats = rng.uniform(59.9, 60.4, 300)
    plons = rng.uniform(24.5, 25.4, 300)
    qlats = rng.uniform(60.0, 60.3, 20)
    qlons = rng.uniform(24.7, 25.2, 20)
    pts = spark.createDataFrame(
        [(i, float(plats[i]), float(plons[i])) for i in range(300)],
        "point_id long, lat double, lon double",
    )
    qs = spark.createDataFrame(
        [(i, float(qlats[i]), float(qlons[i])) for i in range(20)],
        "query_id long, lat double, lon double",
    )
    got = spatial.knn_join(pts, qs, k=5, res=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["point_id"], r["dist_m"]))
    for qi in range(20):
        d = geo.haversine_m(
            np.full(300, qlats[qi]), np.full(300, qlons[qi]), plats, plons
        )
        exp = set(np.argsort(d, kind="stable")[:5].tolist())
        got_ids = {pid for _, pid, _ in by_q[qi]}
        assert got_ids == exp, qi
        ranks = sorted(r for r, _, _ in by_q[qi])
        assert ranks == [1, 2, 3, 4, 5]


def test_knn_confirm_cap_surfaced(spark, caplog, monkeypatch):
    """A query whose k-th neighbor sits beyond KNN_MAX_CONFIRM_RADIUS cells
    is never silently truncated: knn_join logs a WARNING carrying the
    capped count."""
    import logging

    # one query at the origin; the only points sit ~40 cells away at res=10
    # (cell extent 180/2^10 ≈ 0.176°, points at 7°) — any cap below that
    # distance binds
    pts = spark.createDataFrame(
        [(i, 7.0 + i * 0.001, 7.0) for i in range(3)],
        "point_id long, lat double, lon double",
    )
    qs = spark.createDataFrame([(0, 0.0, 0.0)], "query_id long, lat double, lon double")
    monkeypatch.setattr(spatial, "KNN_MAX_CONFIRM_RADIUS", 4)
    with caplog.at_level(logging.WARNING, logger="pbf2json_spark.spatial"):
        spatial.knn_join(pts, qs, k=2, res=10, max_rounds=2).collect()
    assert any(
        "1 queries hit KNN_MAX_CONFIRM_RADIUS=4" in r.getMessage()
        for r in caplog.records
    )


def test_tile_aggregate_and_rollup(spark, pages_df):
    geo_pages = pages.geocode(pages_df).filter(F.col("lat").isNotNull())
    tiles = spatial.tile_aggregate(geo_pages, res=6).cache()
    # cross-check against numpy encoding
    rows = geo_pages.select("lat", "lon").collect()
    ids = cells.encode(
        np.array([r["lat"] for r in rows]), np.array([r["lon"] for r in rows]), 6
    )
    import collections

    exp = collections.Counter(ids.tolist())
    got = {r["tile"]: r["n"] for r in tiles.collect()}
    assert got == dict(exp)
    # rollup preserves total count
    up = spatial.tile_rollup(tiles, 6, 3, [F.sum("n").alias("n")])
    assert up.agg(F.sum("n")).collect()[0][0] == sum(exp.values())
    parents = {r["tile"] for r in up.select("tile").collect()}
    assert parents == set(cells.parent(np.array(list(exp)), 3).tolist())


def test_tiles_to_polygons_round_trip(spark, pages_df):
    geo_pages = pages.geocode(pages_df).filter(F.col("lat").isNotNull()).limit(50)
    tiles = spatial.tile_aggregate(geo_pages, res=8)
    polys = spatial.tiles_to_polygons(tiles)
    for r in polys.collect():
        ring = r["ring"]
        assert ring[0] == ring[-1] and len(ring) == 5
        lat0, lon0, lat1, lon1 = cells.cell_bounds(np.array([r["tile"]]))
        assert ring[0]["lat"] == pytest.approx(float(lat0[0]))
        assert ring[2]["lon"] == pytest.approx(float(lon1[0]))


def test_hot_cluster_skew_exists(spark, pages_df):
    """The generator must produce skewed cells (salting/AQE test bed)."""
    geo_pages = pages.geocode(pages_df).filter(F.col("lat").isNotNull())
    tiles = spatial.tile_aggregate(geo_pages, res=6)
    counts = sorted((r["n"] for r in tiles.collect()), reverse=True)
    assert counts[0] > 20 * np.median(counts)


def test_pip_auto_res_stats_scan_memoized(pip_setup, monkeypatch):
    """res=None runs the driver-side polygon stats pass ONCE per polygons
    frame: repeated joins reuse the memoized auto resolution."""
    pts, polys, lats, lons = pip_setup
    calls = {"n": 0}
    real = spatial.pick_polygon_res

    def counting(frame, **kw):
        calls["n"] += 1
        return real(frame, **kw)

    monkeypatch.setattr(spatial, "pick_polygon_res", counting)
    # fresh frame object: the memo lives on the DataFrame instance, and the
    # shared fixture's frame may already carry it from an earlier test
    polys = polys.select("*")
    a = spatial.point_in_polygon_join(pts, polys).collect()
    b = spatial.point_in_polygon_join(pts, polys).collect()
    assert calls["n"] == 1
    assert {(r["point_id"], r["polygon_id"]) for r in a} == {
        (r["point_id"], r["polygon_id"]) for r in b
    }


def _plan_nodes(node):
    """Every node of an executed physical plan, descending through the AQE
    wrapper (its final plan) and query stages (their plans)."""
    yield node
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
    elif kind.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
    else:
        kids = node.children()
        for i in range(kids.size()):
            yield from _plan_nodes(kids.apply(i))


def test_pip_default_plan_properties(pip_setup):
    """The default PIP plan: the polygon-cover side is the build side of a
    broadcast hash join, the per-polygon cover pass is the plan's only
    Arrow crossing (the point side never enters Python) and there is no
    row-at-a-time Python."""
    pts, polys, lats, lons = pip_setup
    hits = spatial.point_in_polygon_join(pts, polys)
    hits.collect()  # AQE finalizes the plan on execution
    nodes = list(_plan_nodes(hits._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert "BatchEvalPython" not in names
    (join,) = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
    build = join.right() if join.buildSide().toString() == "BuildRight" else join.left()
    build_arrow = [n for n in _plan_nodes(build) if n.nodeName() == "ArrowEvalPython"]
    assert len(build_arrow) == 1 and "_cover_udf" in build_arrow[0].toString()
    assert names.count("ArrowEvalPython") == 1
