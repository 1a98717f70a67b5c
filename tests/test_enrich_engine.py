"""End-to-end Engine tests covering the enrichment layer: translateAddress
(amenity + street translations), mergeSegments, xwayOnly suppression.
Scenario tags mirror the reference truth tables (pbf2json.go:1059-1273)."""

from __future__ import annotations

import pytest

from pbf2json_spark import enrich
from pbf2json_spark.engine import Engine
from pbf2json_spark.model import NODES_SCHEMA, RELATIONS_SCHEMA, WAYS_SCHEMA


def build_engine(spark, node_rows, way_rows, rel_rows=None, **kw):
    nodes = spark.createDataFrame(node_rows, NODES_SCHEMA)
    ways = spark.createDataFrame(way_rows, WAYS_SCHEMA)
    rels = None
    if rel_rows is not None:
        rels = spark.createDataFrame(
            [(i, t, [(r, m, "") for r, m in mem]) for i, t, mem in rel_rows],
            RELATIONS_SCHEMA,
        )
    return Engine(nodes, ways, rels, **kw)


# grid of nodes around Helsinki-ish coords
def grid_nodes(base_id=1, lat0=60.17, lon0=24.93):
    out = []
    i = base_id
    for r in range(6):
        for c in range(6):
            out.append((i, lat0 + r * 0.001, lon0 + c * 0.001, {}))
            i += 1
    return out


def test_amenity_translation_injected(spark):
    eng = build_engine(
        spark,
        [(1, 60.0, 24.0, {"amenity": "library", "name": "Keskusta"})],
        [],
    )
    res = eng.query("amenity")
    rows = {r["id"]: r for r in res.nodes.collect()}
    t = rows[1]["tags"]
    assert t["name:en"] == "Library"
    assert t["name:sv"] == "Bibliotek"
    assert t["alt_name"] == "Kirjasto"  # fi goes to alt_name (go:1147-1151)
    assert t["name"] == "Keskusta"  # never overruled


def test_amenity_does_not_overwrite_existing(spark):
    eng = build_engine(
        spark,
        [(1, 60.0, 24.0, {"amenity": "hospital", "name:en": "My Hospital"})],
        [],
    )
    res = eng.query("amenity")
    t = res.nodes.collect()[0]["tags"]
    assert t["name:en"] == "My Hospital"
    assert t["name:sv"] == "Sjukhus"


def test_amenity_lookup_plan_has_no_join(spark):
    """The static amenity dictionary is a literal map lookup: without a
    translation side, translate_address's plan has no join and no
    broadcast, and a NULL or unknown amenity (or NULL tags) adds nothing."""
    rows = spark.createDataFrame(
        [
            (1, 60.0, 24.0, {"amenity": "townhall", "name:sv": "Mitt"}),
            (2, 60.0, 24.0, {"amenity": "cafe"}),
            (3, 60.0, 24.0, {"name": "X"}),
            (4, 60.0, 24.0, None),
        ],
        "id long, lat double, lon double, tags map<string,string>",
    )
    out = enrich.translate_address(rows, None, with_counters=True)
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["tags"] == {
        "amenity": "townhall", "name:sv": "Mitt",
        "name:en": "Town hall", "alt_name": "Kaupungintalo",
    }
    assert got[1]["_n_amenity"] == 2
    assert got[2]["tags"] == {"amenity": "cafe"} and got[2]["_n_amenity"] == 0
    assert got[3]["tags"] == {"name": "X"} and got[3]["_n_amenity"] == 0
    assert got[4]["tags"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan


def test_dictionary_free_query_builds_no_dictionary(spark, monkeypatch):
    def fail(*_a, **_k):
        raise AssertionError("dictionary_names called by a dictionary-free query")

    eng = build_engine(
        spark,
        [(1, 60.0, 24.0, {"amenity": "library"}), (2, 60.1, 24.1, {})],
        [],
        [(500, {"type": "route"}, [(2, "node")])],
    )
    monkeypatch.setattr(enrich, "dictionary_names", fail)
    res = eng.query("amenity", with_dictionary=False)
    assert res.merged_streets is None and res.merged_waterways is None
    assert [r["id"] for r in res.combined().collect()] == [1]


def test_street_translation_copied_into_addr(spark):
    nodes = grid_nodes()
    # a named highway way with fi/sv translations near the address point
    way_nodes = [(100, 60.170, 24.930, {}), (101, 60.175, 24.935, {})]
    ways = [
        (
            500,
            {
                "highway": "residential",
                "name": "Kirkkokatu",
                "name:sv": "Kyrkogatan",
                "name:en": "Church Street",
            },
            [100, 101],
        )
    ]
    addr_node = [
        (
            200,
            60.171,
            24.931,
            {"shop": "bakery", "addr:street": "Kirkkokatu", "addr:housenumber": "3"},
        )
    ]
    eng = build_engine(spark, nodes + way_nodes + addr_node, ways)
    res = eng.query("shop")
    t = {r["id"]: r["tags"] for r in res.nodes.collect()}[200]
    assert t["addr:street:sv"] == "Kyrkogatan"
    assert t["addr:street:en"] == "Church Street"


def test_street_translation_requires_bbox_hit(spark):
    way_nodes = [(100, 10.0, 10.0, {}), (101, 10.005, 10.005, {})]
    ways = [
        (500, {"highway": "x", "name": "Far St", "name:sv": "FS"}, [100, 101])
    ]
    # address point > 0.01° away from the way's bbox
    addr_node = [
        (200, 10.5, 10.5, {"shop": "bakery", "addr:street": "Far St", "addr:housenumber": "1"})
    ]
    eng = build_engine(spark, way_nodes + addr_node, ways)
    res = eng.query("shop")
    t = res.nodes.collect()[0]["tags"]
    assert "addr:street:sv" not in t


def test_xway_only_suppression_and_tag_deletion(spark):
    way_nodes = [
        (100, 10.0, 10.0, {}),
        (101, 10.001, 10.001, {}),
        (102, 10.002, 10.0, {}),
    ]
    ways = [
        # matches only via highway, UNNAMED → not in streets dict, so the
        # xwayOnly path decides: suppressed entirely
        (500, {"highway": "residential", "ref_x": "r"}, [100, 101]),
        # unnamed highway matching via building too → kept, highway deleted
        (501, {"highway": "service", "building": "yes"}, [101, 102]),
    ]
    eng = build_engine(spark, way_nodes, ways)
    res = eng.query("highway,building")
    got = {r["id"]: r for r in res.ways.collect()}
    assert 500 not in got
    assert 501 in got
    assert "highway" not in got[501]["tags"]
    assert got[501]["tags"]["building"] == "yes"
    # named highways never reach the main output: they are merge seeds
    assert res.merged_streets.count() == 0


def test_merged_streets_output_and_seed_suppression(spark):
    way_nodes = [
        (100, 10.0, 10.0, {}),
        (101, 10.001, 10.001, {}),
        (102, 10.0015, 10.0015, {}),
        (103, 10.002, 10.002, {}),
        (104, 11.0, 11.0, {}),  # far segment, same name
        (105, 11.001, 11.001, {}),
    ]
    ways = [
        (500, {"highway": "residential", "name": "Pitkäkatu", "name:sv": "Långgatan"},
         [100, 101]),
        (501, {"highway": "residential", "name": "Pitkäkatu", "name:sv": "Långgatan"},
         [102, 103]),
        (502, {"highway": "residential", "name": "Pitkäkatu", "name:sv": "Långgatan"},
         [104, 105]),
    ]
    eng = build_engine(spark, way_nodes, ways)
    res = eng.query("highway+name")
    merged = res.merged_streets.collect()
    # two components: {500,501} (bboxes within 0.01°) and {502}
    assert len(merged) == 2
    seeds = {r["id"] for r in merged}
    assert seeds == {500, 502}
    comp = {r["id"]: r for r in merged}
    assert comp[500]["bbox_max"]["lat"] == pytest.approx(10.002)
    assert comp[500]["tags"]["name:sv"] == "Långgatan"
    # seeds suppressed from the main way output; non-seed member 501 prints,
    # with its highway tag deleted by xwayOnly — and since 'highway+name'
    # was its only match reason, it is in fact suppressed too
    main_ids = {r["id"] for r in res.ways.collect()}
    assert 500 not in main_ids and 502 not in main_ids
    assert 501 not in main_ids  # xwayOnly: only interesting due to highway


def test_merged_street_members_survive_when_otherwise_interesting(spark):
    way_nodes = [
        (100, 10.0, 10.0, {}),
        (101, 10.001, 10.001, {}),
        (102, 10.0015, 10.0015, {}),
        (103, 10.002, 10.002, {}),
    ]
    ways = [
        (500, {"highway": "x", "name": "S", "name:sv": "Sv"}, [100, 101]),
        (501, {"highway": "x", "name": "S", "name:sv": "Sv", "building": "yes"},
         [102, 103]),
    ]
    eng = build_engine(spark, way_nodes, ways)
    res = eng.query("highway+name,building")
    main = {r["id"]: r for r in res.ways.collect()}
    assert 500 not in main  # seed → merged output only
    assert 501 in main  # non-seed, still interesting via building
    assert "highway" not in main[501]["tags"]


def test_waterway_merge_and_suppression(spark):
    way_nodes = [
        (100, 10.0, 10.0, {}),
        (101, 10.001, 10.001, {}),
        (102, 10.0015, 10.0015, {}),
        (103, 10.002, 10.002, {}),
    ]
    ways = [
        (500, {"waterway": "stream", "name": "Joki"}, [100, 101]),
        (501, {"waterway": "stream", "name": "Joki"}, [102, 103]),
    ]
    eng = build_engine(spark, way_nodes, ways)
    res = eng.query("waterway+name")
    merged = res.merged_waterways.collect()
    assert len(merged) == 1 and merged[0]["id"] == 500
    assert {r["id"] for r in res.ways.collect()} == set()  # xwayOnly suppresses 501


def test_entrances_emitted_from_needed_ways(spark):
    way_nodes = [
        (100, 10.0, 10.0, {}),
        (101, 10.001, 10.001, {"entrance": "main", "ref": "A"}),
        (102, 10.002, 10.0, {}),
    ]
    ways = [
        (
            500,
            {"building": "yes", "addr:street": "S", "addr:housenumber": "1"},
            [100, 101, 102, 100],
        )
    ]
    eng = build_engine(spark, way_nodes, ways)
    res = eng.query("building")
    ent = res.entrances.collect()
    assert len(ent) == 1
    assert ent[0]["tags"]["addr:unit"] == "A"
    combined = eng.query("building").combined()
    types = {r["type"] for r in combined.collect()}
    assert types == {"way", "node"}


def test_counters_a7(spark):
    # amenity: library node with no name slots used → 3 amenity keys added;
    # plus one with name:en already present → 2 added. No street dict →
    # transcount 0.
    eng = build_engine(
        spark,
        [
            (1, 60.0, 24.0, {"amenity": "library", "name": "A"}),
            (2, 60.0, 24.0, {"amenity": "library", "name:en": "Mine"}),
            (3, 60.0, 24.0, {"amenity": "unknown_thing"}),
        ],
        [],
    )
    res = eng.query("amenity", with_counters=True)
    c = res.counters.collect()[0]
    assert c["amenitycount"] == 5
    assert c["transcount"] == 0
    assert c["fitranscount"] == 0
    # counter columns must not leak into the output frames
    assert "_n_amenity" not in res.nodes.columns


def test_counters_street_translation(spark):
    nodes = grid_nodes()
    way_nodes = [(100, 60.170, 24.930, {}), (101, 60.175, 24.935, {})]
    ways = [
        (
            500,
            {
                "highway": "residential",
                "name": "Kirkkokatu",
                "name:sv": "Kyrkogatan",
                "name:fi": "Kirkkokatu FI",
            },
            [100, 101],
        )
    ]
    addr_node = [
        (
            200,
            60.171,
            24.931,
            {"addr:street": "Kirkkokatu", "addr:housenumber": "1", "shop": "yes"},
        )
    ]
    eng = build_engine(spark, nodes + way_nodes + addr_node, ways)
    res = eng.query("shop", with_counters=True)
    t = {r["id"]: r["tags"] for r in res.nodes.collect()}[200]
    assert t["addr:street:sv"] == "Kyrkogatan"
    c = res.counters.collect()[0]
    # addr:street:sv + addr:street:fi copied → transcount 2, fi → 1
    assert c["transcount"] == 2
    assert c["fitranscount"] == 1


def test_stream_records_facade(spark):
    # S8: index.js createReadStream shape — one dict per record, node rows
    # carry lat/lon, way rows carry centroid/bbox, nulls dropped
    eng = build_engine(
        spark,
        [
            (1, 60.0, 24.0, {"amenity": "toilets"}),
            (10, 60.0, 24.0, {}),
            (11, 60.001, 24.001, {}),
        ],
        [(500, {"amenity": "toilets"}, [10, 11])],
    )
    recs = {r["id"]: r for r in eng.stream_records("amenity~toilets")}
    assert set(recs) == {1, 500}
    assert recs[1]["type"] == "node" and recs[1]["lat"] == 60.0
    assert "centroid" not in recs[1]
    assert recs[500]["type"] == "way"
    assert "lat" not in recs[500]
    assert recs[500]["bbox_min"] == {"lat": 60.0, "lon": 24.0}
    assert recs[500]["tags"]["_centroidType"] == "average"
