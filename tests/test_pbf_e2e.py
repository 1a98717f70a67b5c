"""Bench-scale PBF ingest parity (VERDICT r3 task 7): the same
deterministic entity set pushed through BOTH input surfaces — the
distributed .osm.pbf decode (`Engine.from_pbf`) and directly-built entity
frames — must produce identical query results, denormalized ways, and
centroids. This is the e2e evidence the missing reference corpus
(test/vancouver_canada.osm.pbf, test/pretest.sh:7-16) would otherwise
provide; tools/make_pbf.py scales the identical generator to ~100 MB for
the decode-throughput measurement in BENCH/BASELINE.md.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import make_pbf  # noqa: E402
from pbf2json_spark import model, pbf  # noqa: E402
from pbf2json_spark.engine import Engine  # noqa: E402

N_NODES, N_WAYS, N_RELS = 20_000, 2_000, 20


def _entity_frames(spark):
    nodes = make_pbf.node_entities(N_NODES)
    ways = make_pbf.way_entities(N_NODES, N_WAYS)
    rels = make_pbf.relation_entities(N_WAYS, N_RELS)
    ndf = spark.createDataFrame(
        [(i, lat, lon, tags or None) for i, lat, lon, tags in nodes],
        model.NODES_SCHEMA,
    )
    wdf = spark.createDataFrame(
        [(i, tags, refs) for i, tags, refs in ways], model.WAYS_SCHEMA
    )
    rdf = spark.createDataFrame(
        [(i, tags, [(r, t, ro) for r, t, ro in mem]) for i, tags, mem in rels],
        model.RELATIONS_SCHEMA,
    )
    return ndf, wdf, rdf


def test_from_pbf_matches_frame_built_engine(spark, tmp_path):
    path = str(tmp_path / "bench_slice.osm.pbf")
    make_pbf.ensure_fixture(N_NODES, N_WAYS, N_RELS, path)
    # multiple OSMData blobs → the decode actually fans out over tasks
    assert sum(1 for t, _, _ in pbf.blob_index(path) if t == "OSMData") > 2

    eng_file = Engine.from_pbf(spark, path)
    eng_frame = Engine(*_entity_frames(spark))

    res_f = eng_file.query("amenity~toilets", with_dictionary=False)
    res_m = eng_frame.query("amenity~toilets", with_dictionary=False)

    # node results: id + position at the wire format's 7-decimal
    # precision (PBF stores 100-nanodegree ints; the decode is within
    # 1 ulp of the direct double formula, not bit-equal) + full tags
    def nkey(rows):
        return {
            (r["id"], round(r["lat"], 7), round(r["lon"], 7),
             tuple(sorted(r["tags"].items())))
            for r in rows
        }

    nf = nkey(res_f.nodes.collect())
    nm = nkey(res_m.nodes.collect())
    assert nf == nm and len(nf) > 0

    # way results: id, ordered refs, 6-dp centroid (the reference's output
    # precision) — denormalization ran through the node join in both paths
    def wkey(rows):
        return {
            (
                r["id"],
                round(r["centroid"]["lat"], 6),
                round(r["centroid"]["lon"], 6),
                tuple(sorted(r["tags"].items())),
            )
            for r in rows
        }

    wf = wkey(res_f.ways.collect())
    wm = wkey(res_m.ways.collect())
    assert wf == wm and len(wf) > 0


def test_decode_counts_match_generator(spark, tmp_path):
    path = str(tmp_path / "counts.osm.pbf")
    make_pbf.ensure_fixture(N_NODES, N_WAYS, N_RELS, path)
    nodes, ways, rels = pbf.read_pbf(spark, path)
    assert nodes.count() == N_NODES
    assert ways.count() == N_WAYS
    assert rels.count() == N_RELS
    # tag fidelity at the far end of the id space
    last = nodes.filter(F.col("id") == N_NODES - N_NODES % 13).collect()
    assert last and last[0]["tags"]["amenity"] is not None
