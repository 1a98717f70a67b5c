"""Golden parity: run the engine on tables reconstructed from the reference's
own fixtures and compare byte-for-byte (row counts, tags, 6-dp centroids and
geometry — BASELINE.json correctness contract).

Queries follow test/end-to-end.js:48-56 (the '+' AND grammar).

The goldens are read from the reference checkout's fixture directory
(``fixtures.FIXTURE_DIR``). Where it is not mounted the test skips rather
than fail: no golden records are fabricated, and the expected counts below
stay as they are so the check runs wherever the reference is present.
Without it, the paper's denorm/centroid contract is covered by
tests/test_pbf_e2e.py, tests/test_denorm.py and the DuckDB oracles of the
``way_denorm_bbox`` / ``relation_bbox`` queries (``__spark_entry__``)."""

from __future__ import annotations

import pytest

from pbf2json_spark import fixtures, parity

CASES = [
    # (fixture, tags_dsl, expected_rows, expected_ways, expected_nodes)
    ("colon", "addr:housenumber", 1731, 605, 1126),
    ("group", "addr:housenumber+addr:street", 1693, 585, 1108),
    ("value", "amenity~toilets", 74, 13, 61),
    ("multivalue", "amenity~toilets,amenity~kindergarten", 76, 13, 63),
]


@pytest.mark.skipif(
    not fixtures.FIXTURE_DIR.exists(),
    reason=f"reference goldens not mounted: {fixtures.FIXTURE_DIR} is missing",
)
@pytest.mark.parametrize("name,q,total,n_ways,n_nodes", CASES)
def test_golden_parity(spark, name, q, total, n_ways, n_nodes):
    golden = fixtures.load_fixture(name)
    assert len(golden) == total  # fixture sanity

    nodes, ways = fixtures.tables_from_fixture(spark, golden)
    nodes, ways = fixtures.with_noise(spark, nodes, ways)

    nodes_out, ways_out = parity.upstream_query(nodes, ways, q)
    got = parity.to_records(nodes_out, ways_out)

    got_ways = [r for r in got.values() if r["type"] == "way"]
    got_nodes = [r for r in got.values() if r["type"] == "node"]
    assert len(got_ways) == n_ways
    assert len(got_nodes) == n_nodes
    assert set(got) == set(golden)

    mismatches = []
    for rid, exp in golden.items():
        g = got[rid]
        if g != exp:
            mismatches.append((rid, exp, g))
    assert not mismatches, mismatches[:3]
