"""OSM-PBF codec round-trips: encode → blob framing → distributed decode.

The reference's golden PBF fixture is absent from disk
(.MISSING_LARGE_BLOBS), so synthetic round-trip is the executable parity
evidence for the wire format (pbf2json.go:236-244 createDecoder): every
entity, tag, ref order, member order, and coordinate written by the
encoder must come back bit-equal through the Spark reader.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pbf2json_spark import pbf
from pbf2json_spark.engine import Engine


def _fixture(n_nodes=50, n_ways=12, n_rels=4):
    nodes = [
        (
            i + 1,
            round(60.0 + i * 0.001, 7),
            round(24.0 + i * 0.002, 7),
            {"name": f"node {i}", "k%d" % (i % 3): "v"} if i % 2 == 0 else {},
        )
        for i in range(n_nodes)
    ]
    ways = [
        (
            1000 + w,
            {"highway": "residential", "name": f"way {w}"},
            [1 + (w * 3 + j) % n_nodes for j in range(4)],
        )
        for w in range(n_ways)
    ]
    rels = [
        (
            5000 + r,
            {"type": "multipolygon"},
            [
                (1000 + r, "way", "outer"),
                (1 + r, "node", ""),
                (5000 + ((r + 1) % n_rels), "relation", "sub"),
            ],
        )
        for r in range(n_rels)
    ]
    return nodes, ways, rels


def test_varint_zigzag_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**35, 2**63 - 1]:
        got, pos = pbf._read_varint(pbf._emit_varint(v), 0)
        assert got == v and pos == len(pbf._emit_varint(v))
    for v in [0, -1, 1, -2**31, 2**31, -(2**62), 2**62]:
        assert pbf._zigzag_decode(pbf._zigzag_encode(v)) == v


def test_pbf_roundtrip_entities(spark, tmp_path):
    nodes, ways, rels = _fixture()
    path = str(tmp_path / "t.osm.pbf")
    # tiny blobs force the multi-blob + delta-reset paths
    n_blobs = pbf.write_pbf(path, nodes, ways, rels, entities_per_blob=7)
    assert n_blobs >= 10

    idx = pbf.blob_index(path)
    assert idx[0][0] == "OSMHeader"
    assert sum(1 for t, _, _ in idx if t == "OSMData") == n_blobs

    ndf, wdf, rdf = pbf.read_pbf(spark, path, blobs_per_task=2)
    got_nodes = {
        r["id"]: (r["lat"], r["lon"], dict(r["tags"])) for r in ndf.collect()
    }
    assert len(got_nodes) == len(nodes)
    for nid, lat, lon, tags in nodes:
        glat, glon, gtags = got_nodes[nid]
        # coords survive at the format's 100-nanodegree granularity
        assert math.isclose(glat, lat, abs_tol=1e-7)
        assert math.isclose(glon, lon, abs_tol=1e-7)
        assert gtags == tags

    got_ways = {r["id"]: (dict(r["tags"]), list(r["refs"])) for r in wdf.collect()}
    assert got_ways == {wid: (tags, refs) for wid, tags, refs in ways}

    got_rels = {
        r["id"]: (
            dict(r["tags"]),
            [(m["ref"], m["mtype"], m["role"]) for m in r["members"]],
        )
        for r in rdf.collect()
    }
    assert got_rels == {rid: (tags, members) for rid, tags, members in rels}


def test_pbf_negative_int64_ids(spark, tmp_path):
    """Proto int64 way/relation ids are two's-complement on the wire:
    negative ids (used by some editors for un-uploaded entities) round-trip
    instead of hanging the varint encoder."""
    import pytest

    with pytest.raises(ValueError):
        pbf._emit_varint(-1)
    path = str(tmp_path / "n.osm.pbf")
    pbf.write_pbf(
        path,
        [(-3, 1.0, 2.0, {})],
        [(-5, {"a": "b"}, [-3])],
        [(-7, {}, [(-5, "way", "r")])],
    )
    ndf, wdf, rdf = pbf.read_pbf(spark, path)
    assert [r["id"] for r in ndf.collect()] == [-3]
    w = wdf.collect()[0]
    assert w["id"] == -5 and list(w["refs"]) == [-3]
    r = rdf.collect()[0]
    assert r["id"] == -7 and r["members"][0]["ref"] == -5


def test_pbf_nondefault_granularity(spark, tmp_path):
    nodes = [(7, 12.3456789, -45.6543211, {"a": "b"})]
    path = str(tmp_path / "g.osm.pbf")
    pbf.write_pbf(path, nodes, [], granularity=1000)
    ndf, _, _ = pbf.read_pbf(spark, path)
    r = ndf.collect()[0]
    # granularity 1000 = 1e-6 degrees of precision
    assert math.isclose(r["lat"], 12.3456789, abs_tol=1e-6)
    assert math.isclose(r["lon"], -45.6543211, abs_tol=1e-6)


def test_engine_from_pbf_end_to_end(spark, tmp_path):
    """The last reference-API gap: point the engine at a .osm.pbf and run a
    tag-DSL query — same lifecycle the binary runs from the CLI."""
    nodes = [
        (1, 60.0, 24.0, {"amenity": "cafe", "name": "A"}),
        (2, 60.001, 24.001, {}),
        (3, 60.002, 24.002, {}),
        (4, 61.0, 25.0, {"shop": "bakery"}),
    ]
    ways = [(10, {"highway": "residential", "name": "Main"}, [1, 2, 3])]
    path = str(tmp_path / "e.osm.pbf")
    pbf.write_pbf(path, nodes, ways, [(20, {"type": "route"}, [(10, "way", "")])])

    eng = Engine.from_pbf(spark, path)
    res = eng.query("amenity~cafe", with_dictionary=False, with_entrances=False)
    got = res.nodes.collect()
    assert [r["id"] for r in got] == [1]
    assert got[0]["tags"]["name"] == "A"

    res2 = eng.query("name~Main", with_dictionary=False, with_entrances=False)
    w = res2.ways.collect()
    assert [r["id"] for r in w] == [10]
    assert w[0]["centroid"]["lat"] is not None
    # the highway key itself is xway-suppressed (pbf2json.go:498-534): a way
    # interesting ONLY for its highway tag is dropped from the output
    res3 = eng.query("highway", with_dictionary=False, with_entrances=False)
    assert res3.ways.count() == 0


def test_varints_np_matches_scalar():
    """The vectorized packed-varint decoder is bit-equal to the byte loop
    across the full width range, including 10-byte (64-bit) varints and
    zigzag-signed extremes."""
    import random

    import numpy as np

    rnd = random.Random(7)
    vals = [rnd.randrange(0, 2 ** b) for b in (1, 7, 8, 14, 21, 35, 53, 63, 64)
            for _ in range(200)]
    buf = b"".join(pbf._emit_varint(v) for v in vals)
    got = pbf._varints_np(buf)
    want = pbf._packed_varints([(pbf._WT_LEN, buf)])
    assert [int(x) for x in got] == [v & (2 ** 64 - 1) for v in want]

    svals = [rnd.randrange(-2 ** 62, 2 ** 62) for _ in range(2000)]
    svals += [0, -1, 1, -2 ** 63, 2 ** 63 - 1]
    sbuf = b"".join(pbf._emit_varint(pbf._zigzag_encode(v)) for v in svals)
    gs = pbf._packed_varints_np([(pbf._WT_LEN, sbuf)], signed=True)
    ws = pbf._packed_varints([(pbf._WT_LEN, sbuf)], signed=True)
    assert gs.dtype == np.int64 and [int(x) for x in gs] == ws
    # empty + repeated-scalar encodings
    assert pbf._varints_np(b"").size == 0
    rep = pbf._packed_varints_np([(pbf._WT_VARINT, 5), (pbf._WT_VARINT, 7)])
    assert [int(x) for x in rep] == [5, 7]


def test_decode_block_columns_matches_tuples():
    """Columnar decode returns the written nodes and ways, including
    untagged-majority DenseNodes and tag terminators."""
    nodes = [
        (i + 1, 50.0 + i * 0.01, 7.0 + i * 0.02,
         {"k": f"v{i}", "x": "y"} if i % 7 == 0 else {})
        for i in range(500)
    ]
    ways = [(9000 + w, {"highway": "path"}, [1 + w, 2 + w, 3 + w])
            for w in range(40)]
    path = "/tmp/pbf_cols_test.osm.pbf"
    pbf.write_pbf(path, nodes, ways, [])
    got_nodes, got_ways = [], []
    for btype, off, ln in pbf.blob_index(path):
        if btype != "OSMData":
            continue
        with open(path, "rb") as f:
            f.seek(off)
            payload = pbf._blob_payload(f.read(ln))
        cols = pbf.decode_block_columns(payload)
        got_nodes += zip(
            cols["node_id"].tolist(), cols["node_lat"].tolist(),
            cols["node_lon"].tolist(), cols["node_tk"], cols["node_tv"],
        )
        got_ways += cols["ways"]
    assert len(got_nodes) == len(nodes)
    for (nid, lat, lon, tk, tv), (wid, wlat, wlon, tags) in zip(got_nodes, nodes):
        assert nid == wid
        assert abs(lat - wlat) < 1e-7 and abs(lon - wlon) < 1e-7
        assert dict(zip(tk, tv)) == tags
    assert [(wid, dict(zip(tk, tv)), refs) for wid, tk, tv, refs in got_ways] == ways


def _runs_decode(df) -> bool:
    """True when the decode's MapInPandas appears anywhere in the executed
    plan of ``df``: the adaptive plan prints its final and initial trees,
    and a persisted frame prints the plan it caches."""
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


def test_read_pbf_decodes_once_per_call(spark, tmp_path):
    """The three frames share one lazily checkpointed decode: after the
    first action, no plan built on them runs the Python decode again —
    not the engine's output, and not a second query on the same engine."""
    nodes, ways, rels = _fixture()
    nodes[0] = (*nodes[0][:3], {"amenity": "toilets"})
    ways[0] = (ways[0][0], {**ways[0][1], "amenity": "toilets"}, ways[0][2])
    path = str(tmp_path / "once.osm.pbf")
    pbf.write_pbf(path, nodes, ways, rels, entities_per_blob=7)

    ndf, wdf, rdf = pbf.read_pbf(spark, path, blobs_per_task=2)
    for df, n in ((ndf, len(nodes)), (wdf, len(ways)), (rdf, len(rels))):
        assert df.count() == n
        assert df.count() == n

    eng = Engine.from_pbf(spark, path)
    out = eng.query("amenity~toilets", with_dictionary=False).combined()
    assert {(r["type"], r["id"]) for r in out.collect()} == {
        ("node", nodes[0][0]), ("way", ways[0][0])}
    assert not _runs_decode(out)
    out2 = eng.query("name~node 2", with_dictionary=False).combined()
    assert [r["id"] for r in out2.collect()] == [nodes[2][0]]
    assert not _runs_decode(out2)


def test_read_pbf_call_launches_no_job(spark, tmp_path):
    """Decode tasks are assigned on the driver: calling read_pbf runs no
    Spark job (no range-bound sampling for the blob index). The first
    action on a frame runs the decode, which the same counter sees."""
    nodes, ways, rels = _fixture()
    path = str(tmp_path / "nojob.osm.pbf")
    pbf.write_pbf(path, nodes, ways, rels, entities_per_blob=7)
    sc = spark.sparkContext
    group = "test_read_pbf_call_launches_no_job"
    sc.setJobGroup(group, group)
    try:
        ndf, _wdf, _rdf = pbf.read_pbf(spark, path, blobs_per_task=2)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert ndf.count() == len(nodes)
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_pbf_tasks_are_contiguous_balanced_blob_runs(spark, tmp_path):
    """Each decode partition holds a contiguous run of blobs, the runs
    follow file order, and their sizes differ by at most one blob."""
    per_blob = 5
    nodes, ways, rels = _fixture()  # 50 nodes, 12 ways, 4 relations
    path = str(tmp_path / "slices.osm.pbf")
    n_blobs = pbf.write_pbf(path, nodes, ways, rels, entities_per_blob=per_blob)
    blob_of = {}
    for first, ents in ((0, nodes), (10, ways), (13, rels)):
        for i, e in enumerate(ents):
            blob_of[e[0]] = first + i // per_blob
    assert n_blobs == 14 and max(blob_of.values()) == n_blobs - 1

    ndf, wdf, rdf = pbf.read_pbf(spark, path, blobs_per_task=4)
    pid = F.spark_partition_id().alias("pid")
    rows = (
        ndf.select(pid, "id")
        .unionByName(wdf.select(pid, "id"))
        .unionByName(rdf.select(pid, "id"))
        .collect()
    )
    assert len(rows) == len(blob_of)
    runs: dict[int, set[int]] = {}
    for r in rows:
        runs.setdefault(r["pid"], set()).add(blob_of[r["id"]])
    assert sorted(runs) == list(range(4))  # ceil(14 / 4) tasks
    order = [sorted(runs[p]) for p in sorted(runs)]
    for run in order:
        assert run == list(range(run[0], run[-1] + 1))
    assert [b for run in order for b in run] == list(range(n_blobs))
    sizes = [len(run) for run in order]
    assert max(sizes) - min(sizes) <= 1


@pytest.mark.parametrize("bad", [0, -1])
def test_read_pbf_rejects_blobs_per_task_below_one(spark, tmp_path, bad):
    path = str(tmp_path / "bad.osm.pbf")
    pbf.write_pbf(path, *_fixture()[:2])
    with pytest.raises(ValueError, match="blobs_per_task must be >= 1"):
        pbf.read_pbf(spark, path, blobs_per_task=bad)
