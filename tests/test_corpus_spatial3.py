"""Round-3 second-wave operators: decontamination, document chunking,
geohash, tile pyramid, cell-cover compaction."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pbf2json_spark import cells, decontam, spatial, textops


# --- decontamination ----------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_pairs_counts_distinct_shared_grams(spark):
    train = _docs(
        spark,
        [
            (1, "a b c d e"),       # shares 'a b c' and 'b c d' with bench 10
            (2, "x y z"),            # clean
            (3, "c d e f"),          # shares 'c d e' with bench 10
            (4, "a b c a b c"),      # duplicate gram counted ONCE (distinct)
        ],
    )
    bench = _docs(spark, [(10, "a b c d e"), (11, "q r s")])
    got = {
        (r.train_id, r.bench_id): r.n_shared
        for r in decontam.contamination_pairs(train, bench, n=3).collect()
    }
    assert got == {(1, 10): 3, (3, 10): 1, (4, 10): 1}


# --- chunking -----------------------------------------------------------------------


def test_chunk_documents_cover_and_overlap(spark):
    df = _docs(spark, [(1, "t0 t1 t2 t3 t4 t5 t6"), (2, "a b"), (3, ""), (4, "  ")])
    out = textops.chunk_documents(df, 3, 1)
    rows = sorted(
        (r.doc_id, r.chunk_id, r.token_start, r.token_end, r.chunk_text)
        for r in out.collect()
    )
    assert rows == [
        (1, 0, 0, 3, "t0 t1 t2"),
        (1, 1, 2, 5, "t2 t3 t4"),
        (1, 2, 4, 7, "t4 t5 t6"),
        (2, 0, 0, 2, "a b"),
    ]


def test_chunk_documents_exact_boundary_no_empty_tail(spark):
    # nw a whole multiple of stride: the last window ends exactly at nw
    df = _docs(spark, [(1, "a b c d e f")])
    rows = textops.chunk_documents(df, 3, 0).collect()
    assert [(r.chunk_id, r.token_start, r.token_end) for r in
            sorted(rows, key=lambda r: r.chunk_id)] == [(0, 0, 3), (1, 3, 6)]
    # every token covered exactly once at overlap 0
    text = " ".join(r.chunk_text for r in sorted(rows, key=lambda r: r.chunk_id))
    assert text == "a b c d e f"


def test_chunk_documents_rejects_bad_overlap(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        textops.chunk_documents(df, 4, 4)


@pytest.mark.parametrize("nw,c,s", [(1, 5, 2), (10, 3, 1), (9, 3, 3), (17, 5, 4)])
def test_chunk_counts_match_formula(spark, nw, c, s):
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(nw)))])
    rows = textops.chunk_documents(df, c, c - s).collect()
    expect = 1 if nw <= c else -((nw - c) // -s) + 1  # ceil div
    assert len(rows) == expect
    last = max(rows, key=lambda r: r.chunk_id)
    assert last.token_end == nw  # reaches the end
    if len(rows) > 1:
        prev = sorted(rows, key=lambda r: r.chunk_id)[-2]
        assert prev.token_end < nw  # last chunk is necessary


# --- geohash ------------------------------------------------------------------------


def test_geohash_known_values(spark):
    # public reference points: Wikipedia's u4pruydqqvj example and
    # geohash.org's home-page example
    df = spark.createDataFrame(
        [(57.64911, 10.40744), (-25.382708, -49.265506), (0.0, 0.0)],
        "lat double, lon double",
    )
    out = df.withColumn("gh", cells.geohash_col(F.col("lat"), F.col("lon"), 11))
    got = {(r.lat, r.lon): r.gh for r in out.collect()}
    assert got[(57.64911, 10.40744)] == "u4pruydqqvj"
    assert got[(-25.382708, -49.265506)] == "6gkzwgjzn82"
    assert got[(0.0, 0.0)] == "s0000000000"


def test_geohash_prefix_property_and_bounds(spark):
    rng = np.random.default_rng(7)
    pts = [(float(la), float(lo)) for la, lo in
           zip(rng.uniform(-90, 90, 50), rng.uniform(-180, 180, 50))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    out = df.select(
        "lat", "lon",
        cells.geohash_col(F.col("lat"), F.col("lon"), 9).alias("g9"),
        cells.geohash_col(F.col("lat"), F.col("lon"), 5).alias("g5"),
    ).collect()
    for r in out:
        assert r.g9.startswith(r.g5)  # prefix property
        la0, la1, lo0, lo1 = cells.geohash_bounds(r.g9)
        assert la0 <= r.lat <= la1 and lo0 <= r.lon <= lo1


def test_geohash_rejects_bad_precision(spark):
    with pytest.raises(ValueError):
        cells.geohash_col(F.lit(0.0), F.lit(0.0), 13)
    with pytest.raises(ValueError):
        cells.geohash_bounds("a!")  # 'a' not in the alphabet either


# --- tile pyramid -------------------------------------------------------------------


def test_tile_pyramid_levels_consistent(spark):
    rng = np.random.default_rng(11)
    pts = [(float(la), float(lo)) for la, lo in
           zip(rng.uniform(-85, 85, 200), rng.uniform(-179, 179, 200))]
    df = spark.createDataFrame(pts, "lat double, lon double")
    pyr = spatial.tile_pyramid(df, 6, 1).collect()
    by_level: dict[int, dict[str, int]] = {}
    for r in pyr:
        by_level.setdefault(r.level, {})[r.qk] = r.n
        assert len(r.qk) == r.level
    # every level sums to the input count
    for lv, tiles in by_level.items():
        assert sum(tiles.values()) == 200, lv
    # parent count == sum of its children (prefix rollup)
    for lv in range(1, 6):
        for qk, n in by_level[lv].items():
            child_sum = sum(
                v for k, v in by_level[lv + 1].items() if k.startswith(qk)
            )
            assert child_sum == n
    # base level matches a direct quadkey groupBy
    direct = {
        r.qk: r.cnt
        for r in df.select(
            cells.quadkey_col(F.col("lat"), F.col("lon"), 6).alias("qk")
        ).groupBy("qk").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert by_level[6] == direct


# --- compact cover ------------------------------------------------------------------


def _expand_all(cell: int, from_res: int, to_res: int) -> set[int]:
    cur = {cell}
    for _ in range(to_res - from_res):
        cur = {int(c) for p in cur for c in cells.children(p)}
    return cur


def test_compact_cover_roundtrip_full_expansion(spark):
    base = int(cells.encode(np.array([12.0]), np.array([34.0]), 3)[0])
    full = _expand_all(base, 3, 6)
    df = spark.createDataFrame([(c,) for c in full], "cell long")
    out = cells.compact_cover(df, 6, min_res=2).collect()
    assert [(r.cell, r.res) for r in out] == [(base, 3)]


def test_compact_cover_mixed_and_lossless(spark):
    rng = np.random.default_rng(5)
    base = int(cells.encode(np.array([-40.0]), np.array([60.0]), 4)[0])
    kids = [int(c) for c in cells.children(base)]
    # child 0: full expansion to res 6; child 1: 3 of 4 children; others absent
    cover = set(_expand_all(kids[0], 5, 6))
    partial = [int(c) for c in cells.children(kids[1])][:3]
    cover |= set(partial)
    df = spark.createDataFrame([(c,) for c in cover], "cell long")
    got = sorted((r.cell, r.res) for r in cells.compact_cover(df, 6, 3).collect())
    assert got == sorted([(kids[0], 5)] + [(c, 6) for c in partial])
    # lossless: expanding the output reproduces the input exactly
    back: set[int] = set()
    for c, r in got:
        back |= _expand_all(c, r, 6)
    assert back == cover


def test_compact_cover_min_res_floor(spark):
    base = int(cells.encode(np.array([0.0]), np.array([0.0]), 2)[0])
    full = _expand_all(base, 2, 4)
    df = spark.createDataFrame([(c,) for c in full], "cell long")
    # floor at 3: stops one level short of the single res-2 ancestor
    got = sorted((r.cell, r.res) for r in cells.compact_cover(df, 4, 3).collect())
    assert got == sorted((c, 3) for c in _expand_all(base, 2, 3))
