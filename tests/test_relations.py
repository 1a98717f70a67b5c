"""Relation fixpoint resolver tests (formatRelation, pbf2json.go:855-977):
member-order centroid math, drop/skip asymmetry, nesting, cycles."""

from __future__ import annotations

import math

import pytest

from pbf2json_spark import denorm, relations
from pbf2json_spark.model import NODES_SCHEMA, RELATIONS_SCHEMA, WAYS_SCHEMA


def run(spark, node_rows, way_rows, rel_rows):
    nodes = denorm.prepare_nodes(spark.createDataFrame(node_rows, NODES_SCHEMA))
    ways = denorm.prepare_ways(spark.createDataFrame(way_rows, WAYS_SCHEMA))
    rels = spark.createDataFrame(
        [(i, t, [(r, m, "") for r, m in mem]) for i, t, mem in rel_rows],
        RELATIONS_SCHEMA,
    )
    from pbf2json_spark.dsl import trim_tags
    import pyspark.sql.functions as F

    rels = rels.select("id", trim_tags(F.col("tags")).alias("tags"), "members")
    fmt_ways = denorm.format_ways(ways, nodes)
    out = relations.resolve_relations(rels, fmt_ways, nodes)
    return {r["id"]: r for r in out.collect()}


NODES = [
    (1, 10.0, 20.0, {}),
    (2, 10.0, 20.2, {}),
    (3, 10.2, 20.2, {}),
    (4, 10.2, 20.0, {}),
]
SQUARE_WAY = (100, {"building": "yes"}, [1, 2, 3, 4, 1])


def spherical_mean(pts):
    dx = dy = dz = 0.0
    for lat, lon in pts:
        la, lo = math.radians(lat), math.radians(lon)
        dx += math.cos(la) * math.cos(lo)
        dy += math.cos(la) * math.sin(lo)
        dz += math.sin(la)
    n = len(pts)
    dx, dy, dz = dx / n, dy / n, dz / n
    return (
        math.degrees(math.atan2(dz, math.hypot(dx, dy))),
        math.degrees(math.atan2(dy, dx)),
    )


def test_node_members_average_and_bbox(spark):
    got = run(
        spark,
        NODES,
        [],
        [(500, {"type": "multipolygon"}, [(1, "node"), (2, "node"), (3, "node")])],
    )
    r = got[500]
    assert r["tags"]["_centroidType"] == "average"
    # open 3-point path → line centroid; bbox = member extent
    assert r["bbox_min"]["lat"] == 10.0 and r["bbox_max"]["lon"] == 20.2
    assert 10.0 <= r["centroid"]["lat"] <= 10.2


def test_way_member_contributes_centroid_and_bbox(spark):
    got = run(spark, NODES, [SQUARE_WAY], [(500, {}, [(100, "way")])])
    r = got[500]
    exp_lat, exp_lon = spherical_mean(
        [(10.0, 20.0), (10.0, 20.2), (10.2, 20.2), (10.2, 20.0), (10.0, 20.0)]
    )
    assert r["centroid"]["lat"] == pytest.approx(exp_lat, abs=1e-9)
    assert r["centroid"]["lon"] == pytest.approx(exp_lon, abs=1e-9)
    assert r["bbox_min"]["lat"] == 10.0 and r["bbox_max"]["lat"] == 10.2


def test_broken_node_ref_drops_relation(spark):
    got = run(spark, NODES, [], [(500, {}, [(1, "node"), (999, "node")])])
    assert 500 not in got


def test_broken_way_ref_drops_relation(spark):
    got = run(spark, NODES, [], [(500, {}, [(1, "node"), (999, "way")])])
    assert 500 not in got


def test_broken_subrelation_is_skipped_not_fatal(spark):
    got = run(
        spark, NODES, [], [(500, {}, [(1, "node"), (2, "node"), (999, "relation")])]
    )
    assert 500 in got  # member skipped, relation survives


def test_nested_relation_resolves(spark):
    got = run(
        spark,
        NODES,
        [SQUARE_WAY],
        [
            (500, {}, [(100, "way")]),
            (501, {}, [(500, "relation"), (1, "node")]),
        ],
    )
    assert 500 in got and 501 in got
    r = got[501]
    # members: sub-relation centroid + node 1 → open 2-point line → midpoint
    sub = got[500]["centroid"]
    assert r["centroid"]["lat"] == pytest.approx((sub["lat"] + 10.0) / 2, abs=1e-9)
    # bbox sums sub bbox and the node point
    assert r["bbox_min"]["lat"] == 10.0 and r["bbox_max"]["lat"] == 10.2


def test_cycle_terminates_and_members_skipped(spark):
    got = run(
        spark,
        NODES,
        [],
        [
            (500, {}, [(501, "relation"), (1, "node")]),
            (501, {}, [(500, "relation"), (2, "node")]),
        ],
    )
    # both resolve; the cyclic member is skipped symmetrically
    assert got[500]["centroid"]["lat"] == pytest.approx(10.0)
    assert got[500]["centroid"]["lon"] == pytest.approx(20.0)
    assert got[501]["centroid"]["lon"] == pytest.approx(20.2)


def test_all_members_skipped_drops_relation(spark):
    got = run(
        spark,
        NODES,
        [],
        [
            (500, {}, [(501, "relation")]),
            (501, {}, [(500, "relation")]),
        ],
    )
    assert got == {}


def test_entrance_way_member_sets_relation_centroid(spark):
    node_rows = NODES + [(5, 10.05, 20.05, {"entrance": "main"})]
    way_rows = [(100, {"building": "yes"}, [1, 5, 2, 3, 4, 1])]
    got = run(spark, node_rows, way_rows, [(500, {}, [(100, "way"), (3, "node")])])
    r = got[500]
    assert r["tags"]["_centroidType"] == "mainEntrance"
    assert (r["centroid"]["lat"], r["centroid"]["lon"]) == (10.05, 20.05)


def test_entrance_node_member_first_minor_wins(spark):
    node_rows = NODES + [
        (5, 10.05, 20.05, {"entrance": "yes"}),
        (6, 10.06, 20.06, {"entrance": "staircase"}),
    ]
    got = run(
        spark,
        node_rows,
        [],
        [(500, {}, [(5, "node"), (6, "node"), (1, "node")])],
    )
    r = got[500]
    assert r["tags"]["_centroidType"] == "entrance"
    assert (r["centroid"]["lat"], r["centroid"]["lon"]) == (10.05, 20.05)


def test_relation_address_mismatch_rejects_entrance(spark):
    node_rows = NODES + [
        (5, 10.05, 20.05, {"entrance": "main", "addr:street": "Other"}),
    ]
    got = run(
        spark,
        node_rows,
        [],
        [
            (
                500,
                {"addr:street": "Main", "addr:housenumber": "1"},
                [(5, "node"), (1, "node")],
            )
        ],
    )
    r = got[500]
    assert r["tags"]["_centroidType"] == "average"


def test_strata_deep_chain_is_not_recursive():
    """The level pass is iterative: a chain far deeper than Python's
    recursion limit gets its longest-path levels, so resolve_relations'
    max_levels guard (not a RecursionError) decides what is too deep."""
    n = 3000
    levels = relations._strata(set(range(n)), [(i, i + 1) for i in range(n - 1)])
    assert [levels[i] for i in range(n)] == list(range(n - 1, -1, -1))


def test_nesting_deeper_than_max_levels_raises(spark):
    chain = [(600 + i, {}, [(601 + i, "relation"), (1, "node")]) for i in range(99)]
    chain.append((699, {}, [(1, "node")]))
    with pytest.raises(ValueError, match="nesting depth 100 exceeds 64"):
        run(spark, NODES, [], chain)
