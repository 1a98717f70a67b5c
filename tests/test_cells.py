from __future__ import annotations

import numpy as np

from pbf2json_spark import cells


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(3)
    lats = rng.uniform(-90, 90, 2000)
    lons = rng.uniform(-180, 180, 2000)
    for res in (0, 1, 7, 12, 26):
        ids = cells.encode(lats, lons, res)
        r, x, y = cells.decode(ids)
        assert (r == res).all()
        ex, ey = cells.xy(lats, lons, res)
        assert (x == ex).all() and (y == ey).all()


def test_point_inside_own_cell_bounds():
    rng = np.random.default_rng(4)
    lats = rng.uniform(-89, 89, 500)
    lons = rng.uniform(-179, 179, 500)
    ids = cells.encode(lats, lons, 12)
    lat0, lon0, lat1, lon1 = cells.cell_bounds(ids)
    assert (lats >= lat0).all() and (lats < lat1 + 1e-12).all()
    assert (lons >= lon0).all() and (lons < lon1 + 1e-12).all()


def test_parent_contains_child():
    lats = np.array([60.17, -33.86, 0.0])
    lons = np.array([24.94, 151.21, 0.0])
    fine = cells.encode(lats, lons, 15)
    coarse = cells.parent(fine, 9)
    direct = cells.encode(lats, lons, 9)
    assert (coarse == direct).all()


def test_children_partition_parent():
    p = int(cells.encode(np.array([60.17]), np.array([24.94]), 8)[0])
    ch = cells.children(p)
    assert len(set(ch.tolist())) == 4
    assert (cells.parent(ch, 8) == p).all()


def test_disk_and_ring():
    c = int(cells.encode(np.array([60.0]), np.array([24.0]), 10)[0])
    d1 = cells.disk(np.array([c]), 1)[0]
    assert d1.shape == (9,)
    assert c in d1
    r1 = cells.ring(c, 1)
    assert len(r1) == 8 and c not in r1
    # neighbors are adjacent in x/y
    _, cx, cy = cells.decode(np.array([c]))
    _, xs, ys = cells.decode(d1)
    assert (np.abs(xs - cx[0]) <= 1).all() and (np.abs(ys - cy[0]) <= 1).all()


def test_lon_wrap_in_disk():
    c = int(cells.encode(np.array([0.0]), np.array([-179.99]), 8)[0])
    d = cells.disk(np.array([c]), 1)[0]
    _, xs, _ = cells.decode(d)
    n = 1 << 8
    assert 0 in xs and (n - 1) in xs  # wrapped across the antimeridian


def test_column_path_matches_numpy(spark):
    import pyspark.sql.functions as F

    rng = np.random.default_rng(5)
    lats = rng.uniform(-90, 90, 1000)
    lons = rng.uniform(-180, 180, 1000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lats, lons)], "lat double, lon double"
    )
    for res in (0, 5, 12, 26):
        got = (
            df.select(cells.cell_col(F.col("lat"), F.col("lon"), res).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        exp = cells.encode(lats, lons, res)
        assert (got == exp).all(), res


def test_parent_col_matches_numpy(spark):
    import pyspark.sql.functions as F

    rng = np.random.default_rng(6)
    lats = rng.uniform(-90, 90, 500)
    lons = rng.uniform(-180, 180, 500)
    ids = cells.encode(lats, lons, 14)
    df = spark.createDataFrame([(int(i),) for i in ids], "c long")
    got = (
        df.select(cells.cell_parent_col(F.col("c"), 14, 6).alias("p"))
        .toPandas()["p"]
        .to_numpy()
    )
    assert (got == cells.parent(ids, 6)).all()


def test_quadkey_matches_grid_and_prefix_property(spark):
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pbf2json_spark import cells

    pts = [
        (0, 51.5, -0.1), (1, -33.9, 151.2), (2, 89.9, 179.9),
        (3, -89.9, -179.9), (4, 0.0, 0.0), (5, 60.17, 24.94),
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    res = 8
    out = {
        r["id"]: (r["qk"], r["cell"])
        for r in df.select(
            "id",
            cells.quadkey_col(F.col("lat"), F.col("lon"), res).alias("qk"),
            cells.cell_col(F.col("lat"), F.col("lon"), res).alias("cell"),
        ).collect()
    }
    lats = np.array([p[1] for p in pts]); lons = np.array([p[2] for p in pts])
    x, y = cells.xy(lats, lons, res)
    for i, (_, la, lo) in enumerate(pts):
        qk, cell = out[i]
        assert len(qk) == res
        want = "".join(
            str(((int(y[i]) >> (res - 1 - j)) & 1) * 2 + ((int(x[i]) >> (res - 1 - j)) & 1))
            for j in range(res)
        )
        assert qk == want, i
        # quadkey and int cell id name the same tile
        assert cells.quadkey_to_cell(qk) == cell
        # prefix property: the parent's quadkey is a prefix
        pq = df.filter(F.col("id") == i).select(
            cells.quadkey_col(F.col("lat"), F.col("lon"), res - 3).alias("q")
        ).collect()[0]["q"]
        assert qk.startswith(pq)
        # and equals the int parent
        assert cells.quadkey_to_cell(pq) == int(
            cells.parent(np.array([cell]), res - 3)[0]
        )
    with _pytest.raises(ValueError):
        cells.quadkey_col(F.col("lat"), F.col("lon"), 0)


def test_quadkey_to_cell_rejects_bad_input():
    import pytest as _pytest
    from pbf2json_spark import cells

    for bad in ("", "48", "012x", "4" * 2, "0" * 27):
        with _pytest.raises(ValueError):
            cells.quadkey_to_cell(bad)
