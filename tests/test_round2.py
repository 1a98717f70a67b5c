"""Round-2 hardening tests: stream error semantics (index.js:48-60),
the documented -highways flag (pbf2json.go:171, 226-232, 1076-1081),
broadcast gating, zero counters on empty output, the hot-name merge guard,
checkpoint lineage invalidation, and the relations driver-collect removal."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pbf2json_spark import enrich
from pbf2json_spark.engine import StreamError

from tests.test_enrich_engine import build_engine, grid_nodes


# --- stream error semantics (index.js:48-60) ----------------------------------


def test_stream_setup_failure_raises_and_surfaces(spark):
    eng = build_engine(spark, [(1, 60.0, 24.0, {"a": "b"})], [])
    errs: list[str] = []
    with pytest.raises(StreamError, match="setup failed"):
        # empty DSL → parse error: the wrapper's kill path, never a clean
        # empty stream
        list(eng.stream_records("", on_error=errs.append))
    assert errs and errs[0]


def test_stream_midflight_failure_raises(spark):
    # a plan that analyzes fine but fails at execution time: force a
    # runtime error through a UDF that throws on evaluation
    from pyspark.sql.types import StringType

    @F.udf(StringType())
    def boom(x):
        raise RuntimeError("decoder exploded")

    eng = build_engine(spark, [(1, 60.0, 24.0, {"amenity": "pub"})], [])
    res = eng.query("amenity~pub")
    res.nodes = res.nodes.withColumn("tags", F.create_map(F.lit("k"), boom("type")))
    errs: list[str] = []
    gen = None
    with pytest.raises(StreamError, match="mid-flight|setup failed"):
        # reuse the facade's iteration path via a fresh engine whose query
        # output fails at run time
        eng2 = build_engine(spark, [(1, 60.0, 24.0, {"amenity": "pub"})], [])
        orig_query = eng2.query
        eng2.query = lambda *a, **k: res  # inject the poisoned result
        gen = eng2.stream_records("amenity~pub", on_error=errs.append)
        list(gen)
    assert errs


def test_stream_happy_path_unchanged(spark):
    eng = build_engine(spark, [(1, 60.0, 24.0, {"amenity": "pub"})], [])
    recs = list(eng.stream_records("amenity~pub"))
    assert len(recs) == 1 and recs[0]["id"] == 1


def test_stream_releases_cached_frames(spark):
    # the frames Engine.query persists are released when a stream ends or
    # is closed, so repeated streams do not grow the session's cache
    cache = spark._jsparkSession.sharedState().cacheManager()
    eng = build_engine(
        spark,
        [(1, 60.0, 24.0, {"amenity": "pub"})] + grid_nodes(10),
        [(500, {"amenity": "pub", "name": "Katu"}, [10, 11, 12])],
        [(900, {"type": "multipolygon", "name": "Alue"}, [(500, "way")])],
    )
    before = cache.numCachedEntries()
    assert len(list(eng.stream_records("amenity~pub"))) == 2
    gen = eng.stream_records("amenity~pub")
    next(gen)
    gen.close()
    assert cache.numCachedEntries() <= before


# --- the documented -highways behavior (go:1076-1081) --------------------------


def _dict_rows(spark, rows):
    df = spark.createDataFrame(rows, "id long, tags map<string,string>")
    return df


def test_highways_filter_off_by_default(spark):
    d = enrich.dictionary_names(
        _dict_rows(
            spark,
            [(1, {"highway": "residential", "name": "A", "name:sv": "B"})],
        )
    ).collect()[0]
    assert d["street_name"] == "A" and d["is_dict"]


def test_highways_filter_excludes_disallowed_type_entirely(spark):
    rows = [
        # allowed type: classified as usual
        (1, {"highway": "residential", "name": "A", "name:sv": "B"}),
        # disallowed type: early `return false` (go:1080) — no street, no
        # translations, and NO waterway entry either
        (2, {"highway": "track", "name": "C", "name:sv": "D", "waterway": "x"}),
        # no highway tag at all: waterway branch unaffected by the filter
        (3, {"waterway": "river", "name": "E"}),
    ]
    out = {
        r["id"]: r
        for r in enrich.dictionary_names(
            _dict_rows(spark, rows), highways=["residential", "primary"]
        ).collect()
    }
    assert out[1]["street_name"] == "A" and out[1]["is_dict"]
    assert out[2]["street_name"] is None
    assert out[2]["water_name"] is None
    assert not out[2]["is_dict"] and out[2]["transl_names"] == []
    assert out[3]["water_name"] == "E"


def test_engine_highways_flag_threads_through(spark):
    nodes = grid_nodes()
    ways = [
        (500, {"highway": "residential", "name": "Kirkkotie", "name:sv": "Kyrkov"}, [1, 2]),
        (501, {"highway": "track", "name": "Polku", "name:sv": "Stig"}, [3, 4]),
    ]
    eng = build_engine(spark, nodes, ways, highways=("residential",))
    res = eng.query("highway")
    merged = {r["id"] for r in res.merged_streets.collect()}
    assert 500 in merged and 501 not in merged


# --- street-name translation --------------------------------------------------


def test_translate_address_adds_street_translation(spark):
    rows = spark.createDataFrame(
        [(1, 60.0, 24.0, {"addr:street": "Kirkkotie", "addr:housenumber": "7"})],
        "id long, lat double, lon double, tags map<string,string>",
    )
    tg = spark.createDataFrame(
        [
            (
                "Kirkkotie",
                True,
                9,
                {"name": "Kirkkotie", "name:sv": "Kyrkovagen"},
                {"lat": 59.99, "lon": 23.99},
                {"lat": 60.01, "lon": 24.01},
            )
        ],
        "transl_name string, is_way boolean, id long, wr_tags map<string,string>,"
        " bbox_min struct<lat:double,lon:double>, bbox_max struct<lat:double,lon:double>",
    )
    out = enrich.translate_address(rows, tg, loc=("lat", "lon")).collect()
    assert out[0]["tags"]["addr:street:sv"] == "Kyrkovagen"


# --- PIP verify ----------------------------------------------------------------


def test_pip_column_verify_matches_numpy_ray_cast(spark):
    """The codegen ray cast agrees bit-for-bit with geo.points_in_ring,
    including on a concave ring."""
    import numpy as np

    from pbf2json_spark import geo, spatial

    concave = [  # U-shape: (2.5, 2.5)-ish notch points are OUTSIDE
        {"lat": 0.0, "lon": 0.0},
        {"lat": 0.0, "lon": 5.0},
        {"lat": 5.0, "lon": 5.0},
        {"lat": 5.0, "lon": 4.0},
        {"lat": 1.0, "lon": 4.0},
        {"lat": 1.0, "lon": 1.0},
        {"lat": 5.0, "lon": 1.0},
        {"lat": 5.0, "lon": 0.0},
        {"lat": 0.0, "lon": 0.0},
    ]
    polys = spark.createDataFrame(
        [(1, concave)], "polygon_id long, ring array<struct<lat:double,lon:double>>"
    )
    pts = spark.createDataFrame(
        [(i, 0.5 * (i % 13), 0.37 * (i % 17)) for i in range(200)],
        "pt long, lat double, lon double",
    )
    col = {
        (r["pt"], r["polygon_id"])
        for r in spatial.point_in_polygon_join(pts, polys).collect()
    }
    rl = np.array([v["lat"] for v in concave])
    ro = np.array([v["lon"] for v in concave])
    plat = np.array([0.5 * (i % 13) for i in range(200)])
    plon = np.array([0.37 * (i % 17) for i in range(200)])
    truth = {(i, 1) for i in np.nonzero(geo.points_in_ring(plat, plon, rl, ro))[0]}
    assert col == truth and len(col) > 0


# --- Column disk expansion == numpy disk ---------------------------------------


def test_disk_col_matches_numpy_disk(spark):
    """cells.disk_col (codegen expansion used by knn_join) must produce the
    same cell sets as cells.disk, including lon wrap and lat clamp."""
    import numpy as np

    from pbf2json_spark import cells

    res = 4
    rows = [
        (i, float(lat), float(lon), int(r))
        for i, (lat, lon, r) in enumerate(
            [(0.0, 0.0, 1), (89.9, 179.9, 2), (-89.9, -179.9, 3), (45.0, -120.0, 0),
             (88.0, 10.0, 2), (-88.0, 170.0, 1)]
        )
    ]
    df = spark.createDataFrame(rows, "i long, lat double, lon double, r int")
    from pyspark.sql import functions as F

    x, y = cells.xy_cols(F.col("lat"), F.col("lon"), res)
    out = df.select(
        "i", F.array_distinct(cells.disk_col(x, y, res, F.col("r"))).alias("d")
    ).collect()
    for row in out:
        lat, lon, r = rows[row["i"]][1:]
        cell = cells.encode(np.array([lat]), np.array([lon]), res)
        expect = set(np.unique(cells.disk(cell, r)[0]).tolist())
        assert set(row["d"]) == expect, f"row {row['i']}"


# --- counters: zero (not NULL) when the query matches nothing ------------------


def test_counters_zero_on_empty_match(spark):
    eng = build_engine(spark, grid_nodes(), [])
    res = eng.query("amenity~does_not_exist", with_counters=True)
    row = res.counters.collect()[0]
    assert row["amenitycount"] == 0
    assert row["transcount"] == 0
    assert row["fitranscount"] == 0


# --- hot-name merge guard ------------------------------------------------------


def _mk_merge_frames(spark, n, name="Main Street"):
    """n same-named way segments in well-separated pairwise-overlapping
    clusters of 4 (layout where greedy == connected components)."""
    rows = []
    for i in range(n):
        c, p = divmod(i, 4)
        lat = float(c)  # clusters 1 degree apart ≫ extent+slack
        lon = p * 0.004  # within-cluster boxes pairwise overlap
        rows.append(
            (
                i + 1,
                "way",
                {"name": name, f"name:x{i % 3}": f"v{i}"},
                {"lat": lat, "lon": lon},
                {"lat": lat - 0.01, "lon": lon - 0.01},
                {"lat": lat + 0.01, "lon": lon + 0.01},
            )
        )
    fmt = spark.createDataFrame(
        rows,
        "id long, type string, tags map<string,string>,"
        " centroid struct<lat:double,lon:double>,"
        " bbox_min struct<lat:double,lon:double>, bbox_max struct<lat:double,lon:double>",
    )
    dict_df = fmt.select("id", F.lit(name).alias("street_name"))
    return dict_df, fmt


def test_merge_cc_guard_matches_greedy_on_clustered_layout(spark, monkeypatch):
    dict_df, fmt = _mk_merge_frames(spark, 64)
    # 64 rows: greedy under the shipped limit, union-find when it is 1
    greedy = enrich.merge_segments(dict_df, fmt, None, "street_name")
    monkeypatch.setattr(enrich, "MERGE_GREEDY_LIMIT", 1)
    cc = enrich.merge_segments(dict_df, fmt, None, "street_name")

    def canon(df):
        return sorted(
            (
                r["id"],
                tuple(sorted(r["merged_ids"])),
                round(r["bbox_min"]["lat"], 9),
                round(r["bbox_max"]["lon"], 9),
            )
            for r in df.collect()
        )

    assert canon(greedy) == canon(cc)


def test_merge_greedy_limit_is_read_at_call_time(spark, monkeypatch):
    """Two boxes 0.0115° apart, just over STREET_HIT_DISTANCE: the greedy
    scan keeps them apart, the union-find grid over-merges them (they
    share a cell), so the row count shows which path the workers ran."""
    rows = [
        (i, "way", {"name": "Main"}, {"lat": 0.0005, "lon": lon + 0.0005},
         {"lat": 0.0, "lon": lon}, {"lat": 0.001, "lon": lon + 0.001})
        for i, lon in ((1, 0.0), (2, 0.0125))
    ]
    fmt = spark.createDataFrame(
        rows,
        "id long, type string, tags map<string,string>,"
        " centroid struct<lat:double,lon:double>,"
        " bbox_min struct<lat:double,lon:double>, bbox_max struct<lat:double,lon:double>",
    )
    dict_df = fmt.select("id", F.lit("Main").alias("street_name"))
    assert enrich.merge_segments(dict_df, fmt, None, "street_name").count() == 2
    monkeypatch.setattr(enrich, "MERGE_GREEDY_LIMIT", 1)
    cc = enrich.merge_segments(dict_df, fmt, None, "street_name")
    monkeypatch.undo()
    assert cc.count() == 1  # the limit at call time, not at execution


def test_merge_cc_guard_handles_50k_hot_name_fast(spark):
    dict_df, fmt = _mk_merge_frames(spark, 50_000)
    t0 = time.time()
    out = enrich.merge_segments(dict_df, fmt, None, "street_name")
    n = out.count()
    wall = time.time() - t0
    assert n == 50_000 / 4  # one merged row per 4-segment cluster
    assert wall < 120, f"hot-name CC path took {wall:.1f}s"


# --- checkpoint lineage invalidation ------------------------------------------


def test_run_stages_invalidates_on_upstream_rerun(spark, tmp_path):
    from pbf2json_spark.checkpoint import CheckpointManager, run_stages

    mgr = CheckpointManager(spark, str(tmp_path), "p")
    calls: list[str] = []

    def stage_a(_):
        calls.append("a")
        return spark.range(3).withColumnRenamed("id", "v")

    def stage_b(prev):
        calls.append("b")
        return prev.withColumn("w", F.col("v") * 2)

    run_stages(mgr, [("a", stage_a), ("b", stage_b)], mode="resume")
    assert calls == ["a", "b"]

    # plain resume: both served from snapshots
    calls.clear()
    out = run_stages(mgr, [("a", stage_a), ("b", stage_b)], mode="resume")
    assert calls == [] and out.count() == 3

    # upstream re-run under a different invocation → b's recorded input
    # run_id no longer matches → b recomputes on the next resume
    mgr.write_stage("a", spark.range(5).withColumnRenamed("id", "v"), mode="overwrite")
    calls.clear()
    out = run_stages(mgr, [("a", stage_a), ("b", stage_b)], mode="resume")
    assert calls == ["b"]  # a served from its (new) snapshot, b rebuilt
    assert out.count() == 5


def test_snapshot_consistent_rejects_pre_lineage_snapshots(spark, tmp_path):
    from pbf2json_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path), "p")
    mgr.write_stage("a", spark.range(2), mode="overwrite")
    # hand-commit b without input_run_ids (a pre-upgrade snapshot)
    mgr.write_stage("b", spark.range(2), mode="overwrite")
    log = mgr._read_log("b")
    log[-1].pop("input_run_ids", None)
    import json

    with open(mgr._log_path("b"), "w") as f:
        json.dump(log, f)
    assert not mgr.snapshot_consistent("b", ["a"])
    assert mgr.snapshot_consistent("a", [])


# --- relations: no full-table driver collect ----------------------------------


def test_resolve_relations_wide_frame_no_nesting(spark):
    """100k-relation frame with zero relation-members: the driver must only
    collect the (empty) relation→relation edge set, never the id column of
    the whole table — this finishes fast and resolves level-0 only."""
    from pbf2json_spark import denorm, relations as rel_mod

    n = 100_000
    nodes = spark.range(1, 4).select(
        F.col("id"),
        (F.lit(60.0) + F.col("id") * 0.001).alias("lat"),
        (F.lit(24.0) + F.col("id") * 0.001).alias("lon"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    rels = spark.range(1, n + 1).select(
        "id",
        F.create_map(F.lit("type"), F.lit("multipolygon")).alias("tags"),
        F.array(
            F.struct(
                F.lit(1).cast("long").alias("ref"),
                F.lit("node").alias("mtype"),
                F.lit("").alias("role"),
            ),
            F.struct(
                F.lit(2).cast("long").alias("ref"),
                F.lit("node").alias("mtype"),
                F.lit("").alias("role"),
            ),
        ).alias("members"),
    )
    fmt_ways = denorm.format_ways(
        spark.createDataFrame([], "id long, tags map<string,string>, refs array<long>"),
        nodes,
        with_entrances=False,
    ).drop("pts")
    out = rel_mod.resolve_relations(rels, fmt_ways, nodes)
    assert out.count() == n


def test_resolve_relations_edge_membership_via_semijoin(spark):
    """A sub ref pointing at a NON-existent relation must still resolve to
    'skip' (not fatal), proving endpoint membership is derived correctly
    without the full-table collect."""
    from pbf2json_spark import denorm, relations as rel_mod

    nodes = spark.createDataFrame(
        [(1, 60.0, 24.0, {}), (2, 60.1, 24.1, {})],
        "id long, lat double, lon double, tags map<string,string>",
    )
    rels = spark.createDataFrame(
        [
            # 10 → {node 1, missing relation 999}: member skipped, resolves
            (10, {}, [(1, "node", ""), (999, "relation", "")]),
            # 11 → {node 2, relation 10}: true nesting still works
            (11, {}, [(2, "node", ""), (10, "relation", "")]),
        ],
        "id long, tags map<string,string>,"
        " members array<struct<ref:long,mtype:string,role:string>>",
    )
    fmt_ways = denorm.format_ways(
        spark.createDataFrame([], "id long, tags map<string,string>, refs array<long>"),
        nodes,
        with_entrances=False,
    ).drop("pts")
    out = {r["id"]: r for r in rel_mod.resolve_relations(rels, fmt_ways, nodes).collect()}
    assert set(out) == {10, 11}
    # 11's bbox includes 10's centroid contribution (node 1)
    assert out[11]["bbox_min"]["lat"] == 60.0
    assert out[11]["bbox_max"]["lat"] == 60.1
