"""Unit tests for the HSL-mode formatWay semantics: entrance priority,
ref→addr:unit promotion, _centroidType injection, derived entrances.
Truth table ported from entranceLookup/formatWay/validateUnit
(pbf2json.go:593-689, 797-853)."""

from __future__ import annotations

from pbf2json_spark import denorm
from pbf2json_spark.model import NODES_SCHEMA, WAYS_SCHEMA


def make(spark, node_rows, way_rows):
    nodes = denorm.prepare_nodes(spark.createDataFrame(node_rows, NODES_SCHEMA))
    ways = denorm.prepare_ways(spark.createDataFrame(way_rows, WAYS_SCHEMA))
    return nodes, ways


def fmt(spark, node_rows, way_rows):
    nodes, ways = make(spark, node_rows, way_rows)
    rows = denorm.format_ways(ways, nodes).collect()
    return {r["id"]: r for r in rows}


BASE_NODES = [
    (1, 10.0, 20.0, {}),
    (2, 10.0, 20.1, {}),
    (3, 10.1, 20.1, {}),
    (4, 10.1, 20.0, {}),
]


def test_no_building_no_address_means_average(spark):
    got = fmt(
        spark,
        BASE_NODES + [(5, 10.05, 20.05, {"entrance": "main"})],
        [(100, {"amenity": "toilets"}, [1, 2, 5, 3, 4, 1])],
    )
    assert got[100]["tags"]["_centroidType"] == "average"


def test_building_first_main_entrance_wins_without_street(spark):
    got = fmt(
        spark,
        BASE_NODES
        + [
            (5, 10.02, 20.02, {"entrance": "yes"}),
            (6, 10.03, 20.03, {"entrance": "main"}),
            (7, 10.04, 20.04, {"entrance": "main"}),
        ],
        [(100, {"building": "yes"}, [1, 5, 6, 7, 2, 3, 4, 1])],
    )
    r = got[100]
    assert r["tags"]["_centroidType"] == "mainEntrance"
    # no street -> FIRST main (node 6)
    assert (r["centroid"]["lat"], r["centroid"]["lon"]) == (10.03, 20.03)


def test_building_last_main_wins_with_street(spark):
    got = fmt(
        spark,
        BASE_NODES
        + [
            (6, 10.03, 20.03, {"entrance": "main"}),
            (7, 10.04, 20.04, {"entrance": "main"}),
        ],
        [
            (
                100,
                {"building": "yes", "addr:street": "Main st", "addr:housenumber": "1"},
                [1, 6, 7, 2, 3, 4, 1],
            )
        ],
    )
    r = got[100]
    # street present -> LAST main (node 7)
    assert (r["centroid"]["lat"], r["centroid"]["lon"]) == (10.04, 20.04)
    assert r["tags"]["_centroidType"] == "mainEntrance"


def test_last_minor_entrance_wins_when_no_main(spark):
    got = fmt(
        spark,
        BASE_NODES
        + [
            (5, 10.02, 20.02, {"entrance": "staircase"}),
            (6, 10.03, 20.03, {"entrance": "home"}),
        ],
        [(100, {"building": "yes"}, [1, 5, 6, 2, 3, 4, 1])],
    )
    r = got[100]
    assert r["tags"]["_centroidType"] == "entrance"
    assert (r["centroid"]["lat"], r["centroid"]["lon"]) == (10.03, 20.03)


def test_address_mismatch_rejects_entrance(spark):
    got = fmt(
        spark,
        BASE_NODES
        + [(5, 10.02, 20.02, {"entrance": "main", "addr:street": "Other st"})],
        [
            (
                100,
                {"building": "yes", "addr:street": "Main st", "addr:housenumber": "1"},
                [1, 5, 2, 3, 4, 1],
            )
        ],
    )
    assert got[100]["tags"]["_centroidType"] == "average"


def test_entrance_value_other_is_ignored(spark):
    got = fmt(
        spark,
        BASE_NODES + [(5, 10.02, 20.02, {"entrance": "emergency"})],
        [(100, {"building": "yes"}, [1, 5, 2, 3, 4, 1])],
    )
    assert got[100]["tags"]["_centroidType"] == "average"


def test_ref_promotion_on_ways_and_nodes(spark):
    nodes, ways = make(
        spark,
        BASE_NODES
        + [
            (5, 1.0, 2.0, {"addr:street": "S", "addr:housenumber": "1", "ref": " B2 "}),
            (6, 1.0, 2.0, {"addr:street": "S", "addr:housenumber": "1", "ref": "long"}),
            (7, 1.0, 2.0, {"ref": "A"}),  # no address -> no promotion
        ],
        [
            (
                100,
                {"addr:street": "S", "addr:housenumber": "1", "ref": "A1"},
                [1, 2, 3],
            )
        ],
    )
    n = {r["id"]: r["tags"] for r in nodes.collect()}
    assert n[5]["addr:unit"] == "B2"  # trimmed, valid unit
    assert "addr:unit" not in n[6]  # 'long' fails ^[a-zA-Z][1-9]?$
    assert "addr:unit" not in n[7]
    w = {r["id"]: r["tags"] for r in ways.collect()}
    assert w[100]["addr:unit"] == "A1"


def test_duplicate_refs_count_positions_not_distinct(spark):
    # a way referencing the same node twice must still denormalize
    got = fmt(spark, BASE_NODES, [(100, {"building": "yes"}, [1, 2, 1, 3])])
    assert 100 in got
    assert len(got[100]["pts"]) == 4


def test_dangling_ref_drops_way(spark):
    got = fmt(spark, BASE_NODES, [(100, {"building": "yes"}, [1, 2, 999])])
    assert got == {}


def test_derived_entrances(spark):
    node_rows = BASE_NODES + [
        (5, 10.02, 20.02, {"entrance": "main", "ref": "A", "wheelchair": "yes"}),
        (6, 10.03, 20.03, {"entrance": "yes"}),  # no unit ref -> not derived
    ]
    way_rows = [
        (
            100,
            {"building": "yes", "addr:street": "S", "addr:housenumber": "7"},
            [1, 5, 6, 2, 3, 4, 1],
        )
    ]
    nodes, ways = make(spark, node_rows, way_rows)
    d = denorm.denormalize_ways(ways, nodes)
    ent = denorm.derived_entrances(d, nodes).collect()
    assert len(ent) == 1
    e = ent[0]
    assert e["id"] == 5 and e["way_id"] == 100
    assert e["tags"]["addr:street"] == "S"
    assert e["tags"]["addr:housenumber"] == "7"
    assert e["tags"]["addr:unit"] == "A"
    assert e["tags"]["wheelchair"] == "yes"


def test_entrance_nodes_own_address_kept_in_derived(spark):
    node_rows = BASE_NODES + [
        (5, 10.02, 20.02, {"entrance": "main", "ref": "A", "addr:street": "S"}),
    ]
    way_rows = [
        (
            100,
            {"building": "yes", "addr:street": "S", "addr:housenumber": "7"},
            [1, 5, 2, 3, 4, 1],
        )
    ]
    nodes, ways = make(spark, node_rows, way_rows)
    d = denorm.denormalize_ways(ways, nodes)
    ent = denorm.derived_entrances(d, nodes).collect()
    assert len(ent) == 1
    assert ent[0]["tags"]["addr:street"] == "S"
    assert ent[0]["tags"]["addr:housenumber"] == "7"  # filled from parent


def test_bbox(spark):
    got = fmt(spark, BASE_NODES, [(100, {"building": "yes"}, [1, 2, 3, 4, 1])])
    r = got[100]
    assert (r["bbox_min"]["lat"], r["bbox_min"]["lon"]) == (10.0, 20.0)
    assert (r["bbox_max"]["lat"], r["bbox_max"]["lon"]) == (10.1, 20.1)
